package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.Tables

/** Structured Streaming ingestion of the `events` table — the
  * streaming extension surface (SURVEY.md §2.9: absent from the
  * reference, which is batch-only by design; README.md:274).
  *
  * The transforms are plain DataFrame functions, so the SAME code
  * path serves batch (Tables.events) and streaming (readEventsStream)
  * inputs — batch-equivalence is the correctness oracle for the
  * stream, tested in EventsStreamSpec.
  *
  * Scale: event-time tumbling windows + watermark bound the state
  * store; dedup state is similarly watermark-expired. At 100 TB/day
  * the only extra knob is shuffle partitioning on (window,
  * event_type) — already the grouping key.
  */
object EventsStream {

  /** Raw schema of the current micros-NTZ events drops — the
    * empty-directory fallback for readEventsStream's footer sniff. */
  val defaultRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over an events parquet directory, ts
    * normalized to microsecond TimestampType exactly as the batch
    * loader does. The file source needs an explicit schema, and the
    * raw representation of ts has varied across data drops (nanos →
    * raw long under the legacy conf; micros → TIMESTAMP_NTZ), so the
    * schema is sniffed from the directory's parquet footers with a
    * batch read — metadata-only, no data scan — and normalized by the
    * shared Tables.normalizeEventTs. When the directory has no
    * footers yet (classic file-source pattern: start the query, files
    * arrive later) the sniff cannot work, so we fall back to the
    * micros-NTZ schema of the current testdata drops — callers with a
    * different layout pass `schemaOverride`. */
  def readEventsStream(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Int = 1,
                       schemaOverride: Option[StructType] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // fall back to the default schema ONLY for the genuinely-empty
    // directory (files-arrive-later pattern) — decided by looking at
    // the directory, not by catching AnalysisException, which would
    // also swallow corrupt footers / wrong paths / permission errors
    // and let the stream start against a wrong schema that fails
    // later and obscurely. Anything else the batch read throws
    // propagates.
    val dirPath = new Path(dir)
    val fs = FileSystem.get(dirPath.toUri, spark.sparkContext.hadoopConfiguration)
    // recurse on FileStatus, not Path: listStatus already returns each
    // child's status, so a remote filesystem pays one metadata RPC per
    // DIRECTORY, not one per file
    def hasParquet(st: org.apache.hadoop.fs.FileStatus): Boolean =
      if (st.isFile) st.getPath.getName.endsWith(".parquet")
      else fs.listStatus(st.getPath).exists(hasParquet)
    val rawSchema = schemaOverride.getOrElse {
      if (fs.exists(dirPath) && hasParquet(fs.getFileStatus(dirPath)))
        Tables.schemaOf(spark, dir)
      else defaultRawSchema
    }
    Tables.normalizeEventTs(
      spark.readStream
        .schema(rawSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
  }

  /** Tumbling 1-hour event-time windows per event_type; 10-minute
    * watermark for late data. Works on batch and stream alike. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), col("total_value"))

  /** Exactly-once-per-event_id dedup with watermark-bounded state. */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates("event_id")

  /** Drive a streaming DataFrame to a memory sink synchronously
    * (test/smoke harness). Complete mode so un-finalized windows are
    * visible for batch-equivalence checks. */
  def runToMemory(df: DataFrame, name: String, mode: String = "complete"): StreamingQuery = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    WaveLedger.drain(q)
  }

  /** ST1 — the batch-semantics twin of windowedCounts, exposed in the
    * driver query inventory with a DuckDB oracle (tumbling 1-hour
    * windows are epoch-aligned, so window_start == date_trunc hour). */
  def st1EventWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").cast("timestamp").as("window_start"),
              col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  val SessionGap = "30 minutes"
  val SessionGapMicros: Long = 30L * 60 * 1000000

  /** Per-(user, session) stats via the built-in session_window —
    * works identically over batch and streaming input (in streaming
    * the state store merges windows as events arrive; pair with
    * withWatermark to finalize). A new session starts when the gap
    * since the previous event is ≥ SessionGap. */
  def sessionStats(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), SessionGap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("t0"), max(col("ts")).as("t1"))

  /** ST2 — batch sessionization rollup per user: session counts,
    * event totals, mean active-session seconds. Session assignment is
    * the state-store merge in streaming and a single Expand-free
    * aggregation in batch; the DuckDB oracle derives the identical
    * sessions from first principles (lag → gap flag → running sum),
    * so the session semantics themselves are hash-checked. */
  def st2Sessionization(spark: SparkSession, dir: String): DataFrame =
    sessionStats(Tables.events(spark, dir))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
           sum(col("n_events")).as("total_events"),
           round(avg((unix_micros(col("t1")) - unix_micros(col("t0"))) / lit(1000000.0)), 1)
             .as("avg_session_secs"),
           max(col("n_events")).as("max_session_events"))
      .orderBy(col("user_id"))

  /** ST3 — event-type transition matrix: consecutive (prev → curr)
    * pairs per user. Batch form: one lag window over (user, time) —
    * single shuffle on user_id. The streaming twin below keeps the
    * last event per user in a GroupState. */
  def st3Transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  case class EventKeyed(user_id: Long, micros: Long, event_id: Long, event_type: String)
  case class LastEvent(micros: Long, event_id: Long, event_type: String)
  case class Transition(user_id: Long, prev_type: String, event_type: String)

  /** Streaming twin of st3: per-user last-event state via
    * flatMapGroupsWithState (custom state the built-in windows can't
    * express). Events inside a micro-batch are sorted by event time
    * before folding — correct whenever batch boundaries respect the
    * watermark (the file source's per-file batches here; a production
    * deployment adds a watermark-driven buffer for cross-batch
    * reordering). State is O(1) per user. */
  def transitionsStream(events: DataFrame): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("micros"),
              col("event_id"), col("event_type"))
      .as[EventKeyed]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[EventKeyed], state: GroupState[LastEvent]) =>
          val sorted = rows.toSeq.sortBy(e => (e.micros, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          var last = state.getOption
          sorted.foreach { e =>
            last.foreach(p => out += Transition(uid, p.event_type, e.event_type))
            last = Some(LastEvent(e.micros, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  val AttributionGap = "30 minutes"
  val AttributionGapMicros: Long = 30L * 60 * 1000000

  /** Stream-stream interval join (purchase attribution): each
    * purchase joins the same user's views in the preceding
    * 30 minutes. The time-bound join condition is what makes this
    * feasible as a true stream-stream join — with both sides
    * watermarked, Spark's state store can discard buffered rows once
    * they fall outside the interval, so state is bounded by
    * (watermark + gap) of traffic, not the stream's history. */
  def attributionPairs(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("view_ts"),
      col("event_id").as("view_id"))
    val b = purchases.select(col("user_id"), col("ts").as("buy_ts"),
      col("event_id").as("buy_id"))
    b.join(v, Seq("user_id"))
      .filter(col("view_ts") <= col("buy_ts") &&
              col("view_ts") >= col("buy_ts") - expr(s"interval $AttributionGap"))
  }

  /** Streaming form: filter the one event stream into two branches,
    * watermark both, interval-join. Append mode emits a pair exactly
    * once, when the watermark passes the join window. */
  def attributionStream(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view").withWatermark("ts", "1 hour")
    val b = events.filter(col("event_type") === "purchase").withWatermark("ts", "1 hour")
    attributionPairs(v, b)
  }

  /** ST4 — the batch twin, per-user attribution rollup under the
    * DuckDB oracle: pair counts, distinct attributed purchases /
    * contributing views, and the mean view→purchase latency. The join
    * shuffles both sides on user_id once; the interval predicate is a
    * post-join filter on the co-partitioned rows (at scale the state
    * bound comes from the watermark, in batch from partition
    * pruning on ts if the source is time-partitioned). */
  def st4StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val pairs = attributionPairs(e.filter(col("event_type") === "view"),
                                 e.filter(col("event_type") === "purchase"))
    // two countDistincts + plain aggs in ONE groupBy would plan a
    // 3-way Expand of the pair set (the multi-distinct hotspot q24 and
    // dedupCollisions were rewritten to avoid); split into per-user
    // single-distinct aggs over a cached pair set and join the tiny
    // per-user results — the join executes once, and each branch
    // shuffles a narrow 2-column projection instead of 3× full rows.
    val byUser = pairs.cache()
    val base = byUser.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
           round(avg((unix_micros(col("buy_ts")) - unix_micros(col("view_ts")))
             / lit(60000000.0)), 1).as("avg_view_to_buy_mins"))
    val buys = byUser.select(col("user_id"), col("buy_id")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_attributed_buys"))
    val views = byUser.select(col("user_id"), col("view_id")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_contributing_views"))
    base.join(buys, Seq("user_id")).join(views, Seq("user_id"))
      .select(col("user_id"), col("n_pairs"), col("n_attributed_buys"),
              col("n_contributing_views"), col("avg_view_to_buy_mins"))
      .orderBy(col("user_id"))
  }

  /** LEFT OUTER interval attribution: every purchase row survives —
    * with its attributing views where they exist, null-extended where
    * none do (the purchase-without-attribution case st4's inner join
    * silently drops). Shared by batch and stream; in a stream the
    * null-extended rows are emitted by WATERMARK EXPIRY: once the
    * watermark passes a buffered purchase (no view with
    * view_ts ≤ buy_ts can still arrive), the state store evicts it
    * and append mode emits the orphan exactly once. State stays
    * bounded by (watermark + gap) of traffic on both sides — the
    * outer mode costs no extra state over the inner join, only the
    * deferred emission. */
  def attributionOuterPairs(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("view_user"),
      col("ts").as("view_ts"), col("event_id").as("view_id"))
    val b = purchases.select(col("user_id").as("buyer_id"),
      col("ts").as("buy_ts"), col("event_id").as("buy_id"))
    b.join(v,
      col("buyer_id") === col("view_user") &&
        col("view_ts") <= col("buy_ts") &&
        col("view_ts") >= col("buy_ts") - expr(s"interval $AttributionGap"),
      "left_outer")
      .select(col("buyer_id").as("user_id"), col("buy_id"), col("buy_ts"),
        col("view_id"), col("view_ts"))
  }

  /** Streaming form of the left-outer attribution join — the one
    * stateful join mode the inner interval join (st4) doesn't cover.
    * Both branches carry the 1-hour watermark the outer join needs to
    * know when an unmatched purchase can never match again. */
  def attributionOuterStream(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view").withWatermark("ts", "1 hour")
    val b = events.filter(col("event_type") === "purchase").withWatermark("ts", "1 hour")
    attributionOuterPairs(v, b)
  }

  /** ST10 — the batch twin under the DuckDB oracle: per-user
    * attribution census INCLUDING the orphans. n_attributed_buys +
    * n_orphan_buys = n_buys by construction, so the oracle hash pins
    * both partitions of the outer join's output; count(view_id) per
    * purchase counts only matched rows (COUNT of a null-extended
    * column is 0 in both engines). */
  def st10OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val perBuy = attributionOuterPairs(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"))
      .groupBy(col("user_id"), col("buy_id"))
      .agg(count(col("view_id")).as("n_views"))
    perBuy.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_buys"),
        sum(when(col("n_views") > 0, 1L).otherwise(0L)).as("n_attributed_buys"),
        sum(when(col("n_views") === 0, 1L).otherwise(0L)).as("n_orphan_buys"),
        sum(col("n_views")).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  /** FULL OUTER interval attribution: BOTH unmatched sides survive —
    * orphan purchases (no prior view, st10's case) AND orphan views
    * (no purchase within the gap ever followed: the ABANDONMENT
    * signal a funnel analysis needs, which st10's left join silently
    * drops). In a stream each side's null-extended rows emit on
    * watermark expiry of that side's state: a buffered view becomes a
    * final orphan once the watermark passes view_ts + gap (no
    * qualifying purchase can still arrive); a buffered purchase once
    * it passes buy_ts. Same (watermark + gap) state bound as the
    * inner/left modes — full outer adds only the second deferred
    * emission class. */
  def attributionFullOuterPairs(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("view_user"),
      col("ts").as("view_ts"), col("event_id").as("view_id"))
    val b = purchases.select(col("user_id").as("buyer_id"),
      col("ts").as("buy_ts"), col("event_id").as("buy_id"))
    b.join(v,
      col("buyer_id") === col("view_user") &&
        col("view_ts") <= col("buy_ts") &&
        col("view_ts") >= col("buy_ts") - expr(s"interval $AttributionGap"),
      "full_outer")
      .select(coalesce(col("buyer_id"), col("view_user")).as("user_id"),
        col("buy_id"), col("buy_ts"), col("view_id"), col("view_ts"))
  }

  /** Streaming form — the last stateful join mode (inner = st4,
    * left outer = st10, full outer = this). */
  def attributionFullOuterStream(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view").withWatermark("ts", "1 hour")
    val b = events.filter(col("event_type") === "purchase").withWatermark("ts", "1 hour")
    attributionFullOuterPairs(v, b)
  }

  /** ST12 — the batch twin under the DuckDB oracle: the per-user
    * census over ALL THREE output partitions of the full outer join —
    * attributed pairs, orphan purchases, orphan views. The buy-side
    * identities (attributed + orphan = total buys) pin the left-join
    * partitions exactly as st10 does; n_orphan_views pins the new
    * right-side partition (EventsStreamSpec adds the conservation law
    * orphan + distinct-matched = total views per user). Same one
    * user-keyed shuffle as st4/st10. */
  def st12FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val pairs = attributionFullOuterPairs(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"))
    // ONE aggregation cascade over the three output partitions: the
    // (user, buy) grain groups attributed views under their buy AND
    // collects each user's orphan views under the null buy key, so the
    // user rollup needs no second pass over the pairs (the former
    // two-census + full-outer-join shape cached the corpus-sized pair
    // frame; this one keeps zero pinned state and one fewer shuffle)
    pairs.groupBy(col("user_id"), col("buy_id"))
      .agg(count(col("view_id")).as("n_views"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("buy_id").isNotNull, 1L).otherwise(0L)).as("n_buys"),
        sum(when(col("buy_id").isNotNull && col("n_views") > 0, 1L)
          .otherwise(0L)).as("n_attributed_buys"),
        sum(when(col("buy_id").isNotNull && col("n_views") === 0, 1L)
          .otherwise(0L)).as("n_orphan_buys"),
        sum(when(col("buy_id").isNotNull, col("n_views")).otherwise(0L)).as("n_pairs"),
        sum(when(col("buy_id").isNull, col("n_views")).otherwise(0L)).as("n_orphan_views"))
      .orderBy(col("user_id"))
  }

  /** foreachBatch upsert (SURVEY §2.9/§7 sketch): maintain a
    * windowed-counts snapshot table incrementally from a stream.
    * Update-mode batches carry re-emitted (window, event_type) rows;
    * the merge keeps every target row whose key is NOT in the batch
    * (left_anti) and appends the batch — MERGE semantics on plain
    * parquet via swap-on-write. At scale the same function runs with
    * dynamic partition overwrite (or an ACID table format) so only
    * the partitions a batch touches rewrite; the swap here is the
    * local-FS stand-in for that atomicity. */
  def mergeIntoParquet(target: String, keyCols: Seq[String])(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // Hadoop FileSystem throughout (not java.io.File), so the
    // SPARK_GRAFT_ARTIFACT_ROOT knob can point the snapshot at the
    // warehouse filesystem and the swap renames stay same-FS atomic
    val dir = new Path(target)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(target + ".tmp")
    val old = new Path(target + ".old")
    // crash recovery BEFORE looking at dir: a death mid-swap can leave
    // only the .old copy, and this batch would otherwise rebuild from
    // itself; it also reaps a stranded full-size .tmp or superseded
    // .old that the empty-batch skip below would never rewrite
    graft.store.recover(fs, dir, tmp, old)
    // an empty batch on an EXISTING snapshot is a no-op — skip the
    // corpus-sized read + rewrite + swap (and its crash window) a
    // watermark-advance batch on a restarted stream would otherwise
    // pay. On a FRESH target it still writes: unlike the partitioned
    // form, an empty non-partitioned write emits a schema-carrying
    // part file, and an empty events table must converge to a
    // READABLE empty snapshot (Round10Spec's law).
    if (batch.isEmpty && fs.exists(dir)) return
    val cols = batch.columns.map(col).toSeq
    val merged =
      if (!fs.exists(dir)) batch.select(cols: _*)
      else Tables.read(spark, target)
        .join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
        .select(cols: _*)
        .union(batch.select(cols: _*))
    merged.write.mode("overwrite").parquet(tmp.toString)
    graft.store.swap(fs, dir, tmp, old)
  }

  /** The PARTITION-SCOPED merge — st11's documented 100 TB swap made
    * code behind a flag: the snapshot is stored
    * DAY-PARTITIONED (day = the window's date) and each micro-batch
    * rewrites ONLY the partitions it touches, via Spark's dynamic
    * partition overwrite — the real mechanism the full-rewrite path's
    * doc names. The touched-day set is bounded by the batch's window
    * span (a broadcast semi-join prunes the target read to those
    * partitions — untouched day directories are neither read nor
    * written, which PhysicalLayoutSpec pins byte-identical across a
    * second merge). Atomicity is per partition (Spark's staged
    * commit); at 100 TB/day an ACID table format tightens that to a
    * table-level snapshot, with this exact write underneath. */
  private[graft] def mergeIntoParquetPartitioned(target: String,
                                                 keyCols: Seq[String])
                                                (batch: DataFrame,
                                                 batchId: Long): Unit = {
    val spark = batch.sparkSession
    // an empty update batch cannot change the snapshot — and writing
    // it would POISON a fresh target: a partitionBy write of a
    // zero-row frame creates the dir with only _SUCCESS (no
    // schema-bearing part file), so every later merge's read would fail
    // with "Unable to infer schema" (a
    // watermark-advance batch on a restarted stream is exactly this)
    if (batch.isEmpty) return
    val dir = new Path(target)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val withDay = batch.withColumn("day", to_date(col("window_start")))
    val cols = batch.columns.map(col).toSeq :+ col("day")
    val merged =
      if (!fs.exists(dir)) withDay.select(cols: _*)
      else {
        val touched = withDay.select(col("day")).distinct()
        Tables.read(spark, target)
          .join(broadcast(touched), Seq("day"), "left_semi")
          .join(withDay.select(keyCols.map(col): _*), keyCols, "left_anti")
          .select(cols: _*)
          .union(withDay.select(cols: _*))
      }
    graft.etl.Warehouse.withDynamicOverwrite(spark) {
      merged.write.mode("overwrite").partitionBy("day").parquet(target)
    }
  }

  /** Stateful-stream state partitioning: a streaming aggregation keys
    * its state store count off `spark.sql.shuffle.partitions` AT FIRST
    * START (the checkpoint bakes it in), and the session default is
    * sized for BATCH shuffles — cores on this library's sessions.
    * State here is windows × event_types (catalog-sized), so paying
    * one state-store instance + delta file per batch per core is pure
    * overhead (measured on st11: 5.1s → 2.8s at 8 partitions on
    * local[32]). The count is sized to state volume (≈ state bytes / a
    * store's working size), not to the session's core count, and is
    * applied BEFORE the query's first start, because the checkpoint
    * pins it for the query's lifetime. */
  private val StatePartitions = 8

  private[graft] def withStatePartitions[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, StatePartitions.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  /** Drive the windowed-counts stream into a parquet snapshot via the
    * foreachBatch merge; update mode so refined windows re-emit.
    * Pass `checkpoint` for the production posture — a durable
    * checkpointLocation is what lets the query STOP (deploy, crash,
    * rebalance) and resume exactly-once: source offsets, the window
    * state store, and the watermark all recover from it, so a restart
    * reprocesses nothing and misses nothing (EventsStreamSpec pins
    * this with a real stop/stage-more-files/restart cycle). Without
    * it Spark uses a temp checkpoint that dies with the query —
    * fine only for one-shot converge-and-read use. */
  def runSnapshotUpsert(events: DataFrame, target: String,
                        checkpoint: Option[String] = None,
                        partitioned: Boolean = false): StreamingQuery = {
    val keys = Seq("window_start", "event_type")
    val mergeFn =
      if (partitioned) mergeIntoParquetPartitioned(target, keys) _
      else mergeIntoParquet(target, keys) _
    withStatePartitions(events.sparkSession) {
      val w = windowedCounts(events).writeStream
        .outputMode("update")
        .foreachBatch(mergeFn)
      val q = checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
      WaveLedger.drain(q)
    }
  }

  /** ST11 — the foreachBatch parquet-merge maintenance path AS a gate
    * entry: the events table is staged as two TIME-SPLIT files (a
    * midpoint ts threshold — one 1-row aggregate, no global sort),
    * the windowed-counts stream consumes them one micro-batch each
    * (update mode, so batch 2 re-emits every window it refines), the
    * merge upserts each emission into the snapshot table, and the
    * gate reports the POST-MERGE census per event_type. The oracle is
    * the direct batch aggregate — equality holds deterministically,
    * not by luck: the threshold split means every batch-2 row's ts
    * > batch 1's max ts > watermark, so the 10-minute watermark can
    * never drop a row, and the converged snapshot IS the batch
    * answer (EventsStreamSpec pins the window-level equality; this
    * entry puts the path under the driver's hash gate).
    *
    * Scale: the snapshot is windows × event_types — tiny vs the
    * stream; at 100 TB/day the same merge runs with dynamic partition
    * overwrite (or an ACID format) so each batch rewrites only the
    * partitions it touches (see mergeIntoParquet doc). Scratch lives
    * at one FIXED location per scale factor, rebuilt per invocation
    * (s13's no-tmp-accumulation discipline). */
  def st11SnapshotMerge(spark: SparkSession, dir: String): DataFrame =
    st11SnapshotMergeVia(spark, dir, partitioned = false)

  /** `partitioned` selects the merge form: false = the gate's
    * whole-snapshot swap (hash-stable since the entry landed); true =
    * the day-partitioned dynamic-overwrite path (the 100 TB form —
    * PhysicalLayoutSpec pins census equality across the flag, and
    * that untouched day partitions' files are byte-identical across
    * a merge). */
  private[graft] def st11SnapshotMergeVia(spark: SparkSession, dir: String,
                                          partitioned: Boolean): DataFrame = {
    val base = new Path(graft.store.scratch(spark,
      if (partitioned) "graft_st11p" else "graft_st11", dir, "in"))
    val fs = FileSystem.get(base.toUri, spark.sparkContext.hadoopConfiguration)
    val inDir = new Path(base, "in")
    // split from the RAW representation so the staged files carry the
    // ts encoding the stream's sniffed schema expects
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // TIME-THRESHOLD split, not a sort: the two micro-batches only
    // need "every batch-2 ts > every batch-1 ts", which a midpoint
    // threshold from one 1-row min/max aggregate gives exactly — no
    // global orderBy+limit (a single-partition sort at any scale), no
    // anti-join, no cache. Batch sizes ride the time distribution
    // instead of being an exact half, which is what real file arrival
    // looks like anyway; the convergence argument is unchanged (and
    // strictly: batch-2 rows sit ABOVE batch 1's max ts, so the
    // watermark can never drop one).
    val all = Tables.read(spark, s"$dir/events.parquet")
    val mm = all.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).collect()(0)
    val lo = mm.getAs[java.time.LocalDateTime]("lo")
    val hi = mm.getAs[java.time.LocalDateTime]("hi")
    // degenerate inputs stay well-defined: an EMPTY events table
    // (lo/hi null) stages two empty batches under an arbitrary
    // threshold; a SINGLE-distinct-ts table puts every row in batch 1
    // (mid = lo = hi) and batch 2 runs empty — the merge converges to
    // the batch answer either way, it just exercises one populated
    // micro-batch instead of two.
    val mid =
      if (lo == null) java.time.LocalDateTime.of(1970, 1, 1, 0, 0)
      else lo.plus(java.time.Duration.between(lo, hi).dividedBy(2))
    // NULL-ts rows fail BOTH ts<=mid and ts>mid — route them into
    // batch 1 explicitly so the split is lossless (the old orderBy
    // split staged them; silently dropping them would make the
    // snapshot diverge from the batch oracle instead of failing)
    all.filter(col("ts").isNull || col("ts") <= lit(mid))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/f1")
    all.filter(col("ts") > lit(mid))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/f2")
    // stage with increasing mtimes so the file source orders the two
    // micro-batches deterministically
    WaveLedger.stagePart(spark, s"$base/f1", inDir, "a.parquet", 1000000L)
    WaveLedger.stagePart(spark, s"$base/f2", inDir, "b.parquet", 2000000L)
    val target = s"$base/snapshot"
    val q = runSnapshotUpsert(
      readEventsStream(spark, inDir.toString, maxFilesPerTrigger = 1), target,
      partitioned = partitioned)
    q.stop()
    // a never-created target (possible only on the PARTITIONED path
    // with an empty stream — its empty-batch guard cannot write a
    // readable empty dir) serves the empty census rather than a read
    // failure, matching the whole-snapshot path's converged state
    if (!fs.exists(new Path(target))) {
      import spark.implicits._
      return Seq.empty[(String, Long, Long, Double)]
        .toDF("event_type", "n_windows", "n_events", "total_value")
    }
    // post-merge census: per-window totals rounded to cents FIRST
    // (st1's proven cross-engine edge), then summed and re-rounded
    Tables.read(spark, target)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("n_events")).as("n_events"),
        round(sum(round(col("total_value"), 2)), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Semantic debounce key: one event per (user, type, event-hour).
    * The hour bucket is derived from EVENT time, so batch and stream
    * agree on which rows are duplicates. */
  private def withHourKey(events: DataFrame): DataFrame =
    events.withColumn("hour_bucket", date_trunc("hour", col("ts")))

  /** Streaming debounce via dropDuplicatesWithinWatermark: state for
    * a key is kept only until the watermark passes it, so memory is
    * bounded by one delay-window of traffic — the 100 TB/day form,
    * where plain dropDuplicates' state would grow with the stream's
    * entire history. The within-watermark guarantee needs duplicate
    * arrivals within the delay of each other: same-hour events are
    * ≤ 60 min apart, so a 1-hour delay makes the dedup exact and the
    * batch twin below is its oracle. */
  def debounceStream(events: DataFrame): DataFrame =
    withHourKey(events)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour_bucket")

  /** ST5 — the batch twin: raw vs debounced event counts per type.
    * Only counts are exposed (which representative row survives a
    * debounce is arrival-order-dependent in a stream; the SET of
    * surviving keys is not), so the query is deterministic under
    * both execution modes. countDistinct over the composite key is
    * one Expand-free aggregate — map-side partials, no join.
    *
    * Null-key rows are excluded EXPLICITLY in both this query and its
    * oracle: Spark's countDistinct(a, b) skips rows where any key is
    * NULL, while DuckDB's count(DISTINCT (a, b)) counts row-structs
    * containing NULLs — without the shared filter, parity would
    * silently depend on the events table never having a NULL
    * user_id/ts. (A null-keyed event is also meaningless to debounce:
    * dropDuplicatesWithinWatermark would treat NULL as a key value.) */
  def st5Debounce(spark: SparkSession, dir: String): DataFrame =
    withHourKey(Tables.events(spark, dir))
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_raw"),
           countDistinct(col("user_id"), col("hour_bucket")).as("n_debounced"))
      .orderBy(col("event_type"))

  /** Static enrichment dimension: market segment of GOOD-STANDING
    * customers (non-negative balance) — a realistic partial
    * reference extract, and the partiality is load-bearing: ~9% of
    * event users fall outside it at every SF, so the left join's
    * unmatched path is genuinely exercised (an unfiltered dim
    * matches every user and the UNKNOWN bucket would be a vacuous
    * gate). */
  def segmentDim(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_acctbal") >= 0)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))

  /** Stream-static enrichment join — the canonical reference-data
    * pattern: the static side is a bounded table broadcast into
    * every micro-batch, the join is STATELESS (no watermark, no
    * state store, nothing to age out), and unmatched events land in
    * an explicit UNKNOWN bucket instead of silently dropping (left
    * join — an inner join would make enrichment lossy). Identical
    * semantics over batch and streaming input. At 100 TB/day the
    * static side refreshes by restarting the query or via a Delta-
    * style versioned read; the per-batch plan is unchanged. */
  def enrichWithSegment(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")
      .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))

  /** ST6 — the batch twin: per-segment rollup of the enriched
    * stream. */
  def st6StaticEnrich(spark: SparkSession, dir: String): DataFrame =
    enrichWithSegment(Tables.events(spark, dir), segmentDim(spark, dir))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"),
           round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("segment"))

  case class CentRow(user_id: Long, cents: Long)
  case class MomentState(n: Long, s: Long, q: Long)
  case class UserMoments(user_id: Long, n: Long, s: Long, q: Long)

  /** Streaming per-user moment accumulation (count, Σcents, Σcents²)
    * in mapGroupsWithState: int64 sums are order- and batching-
    * independent, so the state after the stream drains equals the
    * batch aggregate EXACTLY (spec-pinned) — the foundation of st8's
    * anomaly rule, maintained incrementally instead of rescanned. */
  def momentsStream(events: DataFrame): Dataset[UserMoments] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .as[CentRow]
      .groupByKey(_.user_id)
      .mapGroupsWithState[MomentState, UserMoments](GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[CentRow], state: GroupState[MomentState]) =>
          val st0 = state.getOption.getOrElse(MomentState(0L, 0L, 0L))
          val st = rows.foldLeft(st0) { (acc, r) =>
            MomentState(acc.n + 1, acc.s + r.cents, acc.q + r.cents * r.cents)
          }
          state.update(st)
          UserMoments(uid, st.n, st.s, st.q)
      }
  }

  /** ST8 — exact-integer anomaly accounting per user: an event is
    * anomalous when its value sits more than 2σ above the user's own
    * mean. The z-test is evaluated ENTIRELY in int64 — value in
    * cents c, moments (n, Σc, Σc²); c > μ + 2σ ⟺ (c·n − s) > 0 ∧
    * (c·n − s)² > 4·(n·q − s²) — so the flag never touches a float
    * and both engines agree bit-for-bit (the same cross-multiplied
    * discipline as t15's OOV rule). Two passes: the moment aggregate
    * (or st8's streaming state) joined back onto the event scan. The
    * moments table is one row PER USER — it grows with the user
    * population, so it is deliberately NOT broadcast-hinted: both
    * sides shuffle on user_id (AQE may still broadcast at runtime
    * when the measured size allows — a bounded runtime decision, not
    * an unbounded plan-time one).
    * Magnitudes: cents ≤ ~10⁴, n ≤ 10⁵ per user keeps every product
    * ≪ 2⁶³; at larger per-user volumes swap to (mean, M2) pairs. */
  def st8Anomalies(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(spark, dir)
      .select(col("user_id"), round(col("value") * 100, 0).cast("long").as("c"))
    val st = c.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
           sum(col("c") * col("c")).as("q"))
    val lhs = col("c") * col("n") - col("s")
    c.join(st, Seq("user_id"))
      .withColumn("a",
        when(lhs > 0 && lhs * lhs > lit(4L) * (col("n") * col("q") - col("s") * col("s")),
          1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("a")).as("n_anomalies"),
           round((max(col("s")) / 100.0) / max(col("n")), 2).as("mean_value"))
      .orderBy(col("user_id"))
  }

  val TrendWindowMicros: Long = 6L * 3600 * 1000000
  val TrendK = 3

  /** Shared 6-hour tumbling counts — the streaming aggregation (the
    * stream≡batch spec runs this exact transform over the file
    * stream). Epoch-aligned windows, same as Spark's `window()`. */
  def trendWindowCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").cast("timestamp").as("window_start"),
              col("event_type"), col("n_events"))

  /** Downstream rank over finalized windows. Rank is not a streaming
    * aggregate — the production shape is exactly this split: the
    * stream maintains windowed counts, the top-k runs downstream
    * (foreachBatch or a reader) over completed windows. The window
    * partition bounds the sort at k·|event types| rows per window. */
  def rankTrending(counts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("window_start"))
      .orderBy(desc("n_events"), col("event_type"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TrendK)
      .orderBy(col("window_start"), col("rank"))
  }

  /** ST7 — trending top-k: the K most frequent event types per
    * 6-hour tumbling window. */
  def st7Trending(spark: SparkSession, dir: String): DataFrame =
    rankTrending(trendWindowCounts(Tables.events(spark, dir)))

  /** Chained windowed aggregation — hour windows re-aggregated into
    * day windows INSIDE one query, the multiple-stateful-operators
    * capability Structured Streaming gained in Spark 3.4
    * (SPARK-40925): the daily rollup consumes the hourly aggregate's
    * window column directly downstream, no intermediate sink or
    * second job. Batch and stream share this transform (the
    * watermark is a no-op in batch; in streaming it both bounds the
    * hourly state and gates the daily append emission). At scale
    * this replaces the classic two-topology pattern (stream to a
    * sink, batch-roll the sink) with one state store per level,
    * each bounded by watermark × window count. */
  def chainedDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(window(col("window"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
           sum(col("n_events")).as("n_events"),
           max(col("n_events")).as("peak_hour_events"))

  /** ST9 — batch twin of chainedDaily: per-(day, event_type) hour
    * coverage, event totals, and the peak hour's volume. All-integer
    * outputs — no float edge anywhere. */
  def st9ChainedWindows(spark: SparkSession, dir: String): DataFrame =
    chainedDaily(Tables.events(spark, dir))
      .select(col("window.start").cast("timestamp").as("day_start"),
              col("event_type"), col("n_hours"), col("n_events"),
              col("peak_hour_events"))
      .orderBy(col("day_start"), col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st9_chained_windows" -> (st9ChainedWindows _),
    "st8_anomalies"      -> (st8Anomalies _),
    "st7_trending"       -> (st7Trending _),
    "st6_static_enrich"  -> (st6StaticEnrich _),
    "st5_debounce"       -> (st5Debounce _),
    "st1_event_windows"  -> (st1EventWindows _),
    "st2_sessionization" -> (st2Sessionization _),
    "st3_transitions"    -> (st3Transitions _),
    "st4_stream_join"    -> (st4StreamJoin _),
    "st10_outer_join"    -> (st10OuterJoin _),
    "st12_full_outer"    -> (st12FullOuter _),
    "st11_snapshot_merge" -> (st11SnapshotMerge _))

  val oracles: Map[String, String] = Map(
    // the z-test cross-multiplied into pure int64, identical to the
    // Spark side; DuckDB's HUGEINT sums cast back before the products
    "st8_anomalies" ->
      """WITH c AS (
           SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c FROM events),
         st AS (
           SELECT user_id, count(*) AS n,
                  CAST(sum(c) AS BIGINT) AS s,
                  CAST(sum(c * c) AS BIGINT) AS q
           FROM c GROUP BY 1),
         fl AS (
           SELECT c.user_id,
                  CASE WHEN (c.c * st.n - st.s) > 0
                        AND (c.c * st.n - st.s) * (c.c * st.n - st.s)
                            > 4 * (st.n * st.q - st.s * st.s)
                       THEN 1 ELSE 0 END AS a
           FROM c JOIN st USING (user_id))
         SELECT f.user_id, count(*) AS n_events,
                CAST(sum(f.a) AS BIGINT) AS n_anomalies,
                round((min(st.s) / 100.0) / min(st.n), 2) AS mean_value
         FROM fl f JOIN st USING (user_id)
         GROUP BY 1 ORDER BY f.user_id""",
    // explicit epoch-floor window start (Spark's window() is
    // epoch-aligned; DuckDB's time_bucket has a 2000-01-03 origin, so
    // the arithmetic form is used instead of trusting alignment)
    "st7_trending" ->
      s"""WITH c AS (
           SELECT make_timestamp((epoch_us(ts) // $TrendWindowMicros)
                    * $TrendWindowMicros) AS window_start,
                  event_type, count(*) AS n_events
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT window_start, event_type, n_events,
                  CAST(row_number() OVER (PARTITION BY window_start
                    ORDER BY n_events DESC, event_type) AS INTEGER) AS rank
           FROM c)
         SELECT window_start, event_type, n_events, rank
         FROM r WHERE rank <= $TrendK
         ORDER BY window_start, rank""",
    "st6_static_enrich" ->
      """SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
                count(*) AS n_events,
                count(DISTINCT e.user_id) AS n_users,
                round(sum(e.value), 2) AS total_value
         FROM events e LEFT JOIN customer c
           ON e.user_id = c.c_custkey AND c.c_acctbal >= 0
         GROUP BY 1 ORDER BY segment""",
    "st5_debounce" ->
      """SELECT event_type, count(*) AS n_raw,
                count(DISTINCT (user_id, date_trunc('hour', ts))) AS n_debounced
         FROM events
         WHERE user_id IS NOT NULL AND ts IS NOT NULL
         GROUP BY 1 ORDER BY event_type""",
    "st1_event_windows" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n_events, round(sum(value),2) AS total_value
         FROM events GROUP BY 1,2 ORDER BY window_start, event_type""",
    // direct batch aggregate — what the converged merge snapshot must
    // equal (the stream side's per-window totals round to cents first,
    // st1's proven cross-engine edge, then the census sums them)
    "st11_snapshot_merge" ->
      """WITH w AS (
           SELECT date_trunc('hour', ts) AS ws, event_type,
                  count(*) AS n, round(sum(value), 2) AS tv
           FROM events GROUP BY 1, 2)
         SELECT event_type, count(*) AS n_windows,
                CAST(sum(n) AS BIGINT) AS n_events,
                round(sum(tv), 2) AS total_value
         FROM w GROUP BY 1 ORDER BY event_type""",
    // two-level mirror of the chained windows: tumbling windows are
    // epoch-aligned, so hour/day starts are date_truncs
    "st9_chained_windows" ->
      """WITH h AS (
           SELECT date_trunc('hour', ts) AS hs, event_type, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT date_trunc('day', hs) AS day_start, event_type,
                count(*) AS n_hours, CAST(sum(n) AS BIGINT) AS n_events,
                max(n) AS peak_hour_events
         FROM h GROUP BY 1, 2 ORDER BY day_start, event_type""",
    "st2_sessionization" ->
      s"""WITH e AS (
           SELECT user_id, ts,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         s AS (
           SELECT user_id, ts,
                  CASE WHEN prev_ts IS NULL
                        OR date_diff('microsecond', prev_ts, ts) >= $SessionGapMicros
                       THEN 1 ELSE 0 END AS ns
           FROM e),
         sid AS (
           SELECT user_id, ts,
                  sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM s),
         sess AS (
           SELECT user_id, sid, count(*) AS n_events, min(ts) AS t0, max(ts) AS t1
           FROM sid GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions,
                CAST(sum(n_events) AS BIGINT) AS total_events,
                round(avg(date_diff('microsecond', t0, t1)/1000000.0),1) AS avg_session_secs,
                CAST(max(n_events) AS BIGINT) AS max_session_events
         FROM sess GROUP BY 1 ORDER BY user_id""",
    "st3_transitions" ->
      """WITH e AS (
           SELECT event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events)
         SELECT prev_type, event_type, count(*) AS n_transitions
         FROM e WHERE prev_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY prev_type, event_type""",
    "st4_stream_join" ->
      s"""WITH v AS (
           SELECT user_id, ts AS view_ts, event_id AS view_id
           FROM events WHERE event_type = 'view'),
         b AS (
           SELECT user_id, ts AS buy_ts, event_id AS buy_id
           FROM events WHERE event_type = 'purchase'),
         pairs AS (
           SELECT b.user_id, b.buy_id, v.view_id, b.buy_ts, v.view_ts
           FROM b JOIN v ON v.user_id = b.user_id
           WHERE v.view_ts <= b.buy_ts
             AND date_diff('microsecond', v.view_ts, b.buy_ts) <= $AttributionGapMicros)
         SELECT user_id, count(*) AS n_pairs,
                count(DISTINCT buy_id) AS n_attributed_buys,
                count(DISTINCT view_id) AS n_contributing_views,
                round(avg(date_diff('microsecond', view_ts, buy_ts) / 60000000.0), 1)
                  AS avg_view_to_buy_mins
         FROM pairs GROUP BY 1 ORDER BY user_id""",
    // LEFT JOIN keeps orphan purchases; count(view_id) is 0 for the
    // null-extended rows in both engines
    "st12_full_outer" ->
      s"""WITH v AS (
           SELECT user_id, ts AS view_ts, event_id AS view_id
           FROM events WHERE event_type = 'view'),
         b AS (
           SELECT user_id, ts AS buy_ts, event_id AS buy_id
           FROM events WHERE event_type = 'purchase'),
         fo AS (
           SELECT COALESCE(b.user_id, v.user_id) AS user_id,
                  b.buy_id, v.view_id
           FROM b FULL JOIN v ON v.user_id = b.user_id
             AND v.view_ts <= b.buy_ts
             AND date_diff('microsecond', v.view_ts, b.buy_ts) <= $AttributionGapMicros),
         perbuy AS (
           SELECT user_id, buy_id, count(view_id) AS n_views
           FROM fo WHERE buy_id IS NOT NULL GROUP BY 1, 2),
         buyside AS (
           SELECT user_id, count(*) AS n_buys,
                  CAST(sum(CASE WHEN n_views > 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_attributed_buys,
                  CAST(sum(CASE WHEN n_views = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_orphan_buys,
                  CAST(sum(n_views) AS BIGINT) AS n_pairs
           FROM perbuy GROUP BY 1),
         ov AS (
           SELECT user_id, count(*) AS n_orphan_views
           FROM fo WHERE buy_id IS NULL GROUP BY 1)
         SELECT COALESCE(bs.user_id, ov.user_id) AS user_id,
                COALESCE(bs.n_buys, 0) AS n_buys,
                COALESCE(bs.n_attributed_buys, 0) AS n_attributed_buys,
                COALESCE(bs.n_orphan_buys, 0) AS n_orphan_buys,
                COALESCE(bs.n_pairs, 0) AS n_pairs,
                COALESCE(ov.n_orphan_views, 0) AS n_orphan_views
         FROM buyside bs FULL JOIN ov ON ov.user_id = bs.user_id
         ORDER BY user_id""",
    "st10_outer_join" ->
      s"""WITH v AS (
           SELECT user_id, ts AS view_ts, event_id AS view_id
           FROM events WHERE event_type = 'view'),
         b AS (
           SELECT user_id, ts AS buy_ts, event_id AS buy_id
           FROM events WHERE event_type = 'purchase'),
         perbuy AS (
           SELECT b.user_id, b.buy_id, count(v.view_id) AS n_views
           FROM b LEFT JOIN v ON v.user_id = b.user_id
             AND v.view_ts <= b.buy_ts
             AND date_diff('microsecond', v.view_ts, b.buy_ts) <= $AttributionGapMicros
           GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_buys,
                CAST(sum(CASE WHEN n_views > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_attributed_buys,
                CAST(sum(CASE WHEN n_views = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_orphan_buys,
                CAST(sum(n_views) AS BIGINT) AS n_pairs
         FROM perbuy GROUP BY 1 ORDER BY user_id""")
}
