package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

/** Structured Streaming variants of the engine's event operators
  * (SURVEY §7.6 — engine extension; the reference itself has no streams).
  *
  * Batch/stream parity: `windowedCounts` is the streaming form of
  * `ev_hour_agg` (tumbling window + watermark instead of date_trunc), and
  * `sessionize` is the streaming form of `ev_sessionize` (explicit
  * per-user state machine + processing-time-independent event-time gaps
  * instead of a lag window). Both run identically on a bounded batch via
  * the same transformations — specs exercise them through MemoryStream.
  */
object StreamOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionState(sessionId: Long, lastTs: Long, count: Long)
  case class SessionUpdate(user_id: Long, session_id: Long, n_events: Long, closed: Boolean)
  case class TouchState(lastTouchSec: Long, lastTouchType: String)
  case class Attribution(user_id: Long, event_id: Long, channel: String)

  /** Tumbling event-time window counts with a watermark bounding state.
    * At scale the watermark is what keeps state finite: without it every
    * window lives forever in the state store.
    */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("cnt"), col("sum_value"))

  /** Oracle-aligned variant of [[windowedCounts]]: value sums accumulate in
    * exact decimal (order-independent) and emit as double, so the result is
    * bit-identical to a batch engine's `date_trunc('hour') … GROUP BY`.
    * (`countDistinct` is omitted — distinct aggregation is unsupported in
    * streaming; the batch `ev_hour_agg` covers it.)
    */
  def windowedCountsExact(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("hour_ts"), col("event_type"), col("cnt"), col("sum_value"))

  /** Open the events parquet as a STREAM (file source), normalizing the
    * ns-precision `ts` exactly like `Tables.events` does for batch.
    * The file source is the bounded stand-in for Kafka here: same
    * micro-batch execution, same incremental state machinery.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema // one footer read
    // the file stream source requires a directory to monitor; the test
    // table is a single file, so stage it into a per-sf temp directory
    // (a production stream would already be a landing directory / Kafka)
    val srcDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_stream_src_${new java.io.File(dir).getName}")
    java.nio.file.Files.createDirectories(srcDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(path), srcDir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val raw = spark.readStream.schema(schema).parquet(srcDir.toString)
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // micros-NTZ parquet: re-tag to TimestampType (sessions pin UTC)
        // because withWatermark rejects NTZ event-time columns
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _        => raw
    }
  }

  /** [[eventsStream]] over a REPLICATED landing directory — the
    * production-batch-size leg (r14, verdict #7). Every other
    * `ev_stream_*` row drains a single 2 MB file, so its wall IS the
    * ~0.6-0.75 s/trigger fixed cost of a micro-batch; this
    * source stages `copies` identical event files and drains them at
    * `filesPerTrigger`, so one micro-batch carries copies x |events|
    * rows and the fixed cost amortizes into real aggregation work — the
    * floor taxonomy's "amortizes at production batch sizes" claim as a
    * green oracled row (the DuckDB twin replicates via
    * `events, range(copies)`). Measured fixed-vs-variable split (r14
    * probe, sf0.1): addBatch read 2.02 s at 10M rows/batch and 2.16 s
    * at 30M — the micro-batch machinery (per-start codegen, state-store
    * setup, listing, offset log) is a near-constant ~2 s and the decode
    * +agg marginal cost is tiny, so the ratio vs the batch oracle falls
    * monotonically with batch size (2.7x at 10M -> ~1.3x at 50M rows).
    * Staging is idempotent (skipped when the directory already holds
    * `copies` files), so bench reps after the untimed warm pass measure
    * the drain, not the copy loop.
    */
  def eventsStreamBulk(spark: SparkSession, dir: String,
                       copies: Int, filesPerTrigger: Int): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val srcDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_stream_bulk_${new java.io.File(dir).getName}_$copies")
    java.nio.file.Files.createDirectories(srcDir)
    val staged = srcDir.toFile.listFiles((_, n) => n.endsWith(".parquet"))
    if (staged == null || staged.length != copies) {
      if (staged != null) staged.foreach(_.delete())
      (0 until copies).foreach(i =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(path), srcDir.resolve(f"events_$i%03d.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    }
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(srcDir.toString)
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _        => raw
    }
  }

  /** [[windowedCountsExact]] with a SCALAR hourly group key instead of
    * the `window()` struct — bit-identical output for aligned 1-hour
    * windows (`window(ts, "1 hour").start == date_trunc("hour", ts)`)
    * but materially cheaper at bulk batch sizes: the struct key pays
    * window-range construction + a 2-field struct hash per row, ~0.5 s
    * per 10M rows measured (r14 probe), which is noise on the single-
    * file `ev_stream_hourly` drain but dominates a 50M-row micro-batch.
    * The production spelling for fixed aligned windows; `window()`
    * stays the right tool for sliding/session windows.
    */
  def hourlyCountsTrunc(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set —
    * a streaming query FIXES its state-store partition count from this
    * conf at checkpoint creation, so it must be set when the query
    * starts. Stateful-operator cost scales with (state partitions ×
    * state stores × batches) store commits; a bounded drain with KB-scale
    * state wants FEW partitions, while a production stream sizes this to
    * state volume. Restores the previous value afterwards.
    */
  private def withStatePartitions[T](spark: SparkSession, n: Option[Int])(body: => T): T =
    n match {
      case None => body
      case Some(p) =>
        val key = "spark.sql.shuffle.partitions"
        val old = spark.conf.get(key)
        spark.conf.set(key, p.toString)
        try body finally spark.conf.set(key, old)
    }

  /** Run a streaming aggregation to completion over a bounded source:
    * `Trigger.AvailableNow` drains all available input through the normal
    * incremental micro-batch path (partial aggregates + state store), then
    * stops. Complete-mode memory sink holds only the aggregated result
    * (windows × types — cardinality-bounded, never raw events). This is
    * what makes a streaming query oracle-able: the drained result must
    * equal the batch/DuckDB answer on the same input.
    */
  def runToCompletion(
      aggregated: DataFrame,
      queryName: String,
      outputMode: OutputMode = OutputMode.Complete(),
      statePartitions: Option[Int] = Some(8)
  ): DataFrame = {
    val spark = aggregated.sparkSession
    spark.catalog.dropTempView(queryName)
    // every stateful operator commits one state store per partition per
    // micro-batch; a bounded drain's state is KB-to-MB scale, so 8
    // partitions beats the session's CPU-count default by that ratio in
    // store-commit I/O (measured: the two stream-stream drains at sf0.1
    // dropped from ~22 s to ~12 s combined). A production stream passes
    // None (or a real sizing) — state partitioning is a deploy decision.
    withStatePartitions(spark, statePartitions) {
      val q = aggregated.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** STREAMING build of the fixed-grid histogram sketch (the online twin
    * of `Sketches.histogram`): a stream cannot take a min/max first pass,
    * so the grid is declared a priori — exactly how production metric
    * pipelines size histogram buckets — and out-of-range values clamp
    * onto the end cells. Bucket counting is an associative aggregate, so
    * the incremental micro-batch build is batching-invariant: the drained
    * state must equal the batch histogram bit-for-bit (the DuckDB-oracled
    * contract). State is ≤ `buckets` rows no matter the stream volume.
    */
  def histViaStream(spark: SparkSession, dir: String, queryName: String,
                    lo: Double, hi: Double, buckets: Int): DataFrame = {
    require(hi > lo && buckets > 0, "histViaStream needs hi > lo, buckets > 0")
    val width = (hi - lo) / buckets
    val ev = eventsStream(spark, dir)
    val bucket = least(
      greatest(floor((col("value").cast("double") - lo) / width), lit(0L)),
      lit((buckets - 1).toLong))
    runToCompletion(
      ev.filter(col("value").isNotNull)
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("cnt")),
      queryName)
  }

  /** STREAMING drift gate: the online PSI monitor a deployed pipeline
    * runs on its input stream — per-(bin, slice) counts build
    * incrementally (associative aggregate: state ≤ `buckets` rows,
    * batching-invariant), and the PSI readout
    * ([[graft.ops.DriftOps.psiFromCounts]] — the SAME arithmetic as the
    * batch `drift_psi`) runs over the drained B-row state. The reference
    * slice is everything before `splitTs` (the training-corpus window);
    * drift of the post-split traffic against it is the deploy gate.
    * The drained result must equal the batch PSI on the same input —
    * the DuckDB-oracled contract.
    */
  def psiViaStream(spark: SparkSession, dir: String, queryName: String,
                   splitTs: String, binWidth: Double, buckets: Int): DataFrame = {
    require(binWidth > 0 && buckets > 0, "psiViaStream needs binWidth > 0, buckets > 0")
    val ev = eventsStream(spark, dir)
    val bin = least(
      greatest(floor(col("value").cast("double") / binWidth), lit(0L)),
      lit((buckets - 1).toLong))
    val isRef = col("ts") < lit(splitTs).cast("timestamp")
    val counts = runToCompletion(
      ev.filter(col("value").isNotNull)
        .groupBy(bin.as("bin"))
        .agg(
          sum(when(isRef, 1L).otherwise(0L)).as("ref_cnt"),
          sum(when(isRef, 0L).otherwise(1L)).as("cur_cnt")),
      queryName)
    graft.ops.DriftOps.psiFromCounts(counts)
  }

  /** Open the documents parquet as a STREAM (file source) — the
    * "documents land from a crawl" stand-in, staged the same way as
    * [[eventsStream]]. */
  def docsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val srcDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_docstream_src_${new java.io.File(dir).getName}")
    java.nio.file.Files.createDirectories(srcDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(path), srcDir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.readStream.schema(schema).parquet(srcDir.toString)
  }

  case class BandRow(doc_id: Long, band: Int, bucket: String)
  case class BandState(minDoc: Long)
  case class DupFlag(doc_id: Long, dup: Boolean)

  /** STREAMING near-dup gate — MinHash LSH dedup of a document stream
    * against everything seen so far: each doc's band buckets come from
    * the stateless per-row generator ([[graft.dedup.Dedup.minhashBandsPerRow]]
    * — one md5 pass, no shuffle), and a per-bucket state machine keeps
    * only the MINIMUM doc id ever seen in that bucket (O(1) state per
    * bucket, the smallest state that answers "did anything earlier land
    * here"). A doc is flagged dup iff ANY of its buckets held a smaller
    * id — the exact batch LSH answer, which is what the DuckDB oracle
    * checks on the drained result.
    *
    * Batching contract: equality with the batch answer holds when doc
    * ids arrive non-decreasing across micro-batches (a crawl stream with
    * monotone ids — within a batch any order is fine, the machine sorts).
    * An out-of-order id can only flip flags toward FEWER dups (an
    * already-emitted earlier doc can't be retracted in Append mode);
    * the two-batch MemoryStream spec pins the cross-batch behavior.
    */
  def nearDup(bandRows: Dataset[BandRow]): Dataset[DupFlag] = {
    import bandRows.sparkSession.implicits._
    bandRows
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[BandState, DupFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows: Iterator[BandRow], state: GroupState[BandState]) =>
          val sorted = rows.toSeq.sortBy(_.doc_id)
          var minSeen = state.getOption.map(_.minDoc).getOrElse(Long.MaxValue)
          val out = sorted.map { r =>
            val dup = minSeen < r.doc_id
            if (r.doc_id < minSeen) minSeen = r.doc_id
            DupFlag(r.doc_id, dup)
          }
          state.update(BandState(minSeen))
          out.iterator
      }
  }

  /** The near-dup state machine drained over an EXPLICIT landing
    * directory with a micro-batch rate limit — the Scale harness's entry
    * point: it stages a synthetic corpus as many files and measures the
    * drain at 1×/10×/100× micro-batches (state must stay O(buckets), so
    * wall time must grow with the corpus, not with batches × corpus).
    * Same band generator, same state machine as [[nearDupViaStream]].
    *
    * SEMANTICS under multiple batches: the state machine is
    * first-SEEN-wins — a doc is flagged iff a doc from an earlier batch
    * (or a smaller-id doc in the same batch) shares a bucket. When file
    * order does not respect id order, a colliding pair split across
    * batches with the smaller id arriving later flags nobody, so the
    * drain is a SUBSET of the batch min-id LSH answer (never a
    * superset) — exactly the production streaming-dedup contract, and
    * spec-pinned in StreamOpsSpec. The single-batch drain (one file, or
    * filesPerTrigger ≥ file count — the oracled d_stream_neardup path)
    * equals the batch answer exactly.
    */
  def nearDupDrainDir(spark: SparkSession, srcDir: String, queryName: String,
                      filesPerTrigger: Int): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(srcDir)
    val spread = stream.repartition(spark.sparkContext.defaultParallelism)
    val bandRows = graft.dedup.Dedup
      .minhashBandsPerRow(spread, "doc_id", "text")
      .as[BandRow]
    runToCompletion(nearDup(bandRows).toDF(), queryName, OutputMode.Append())
  }

  /** Drain [[nearDup]] over the document file-stream and reduce the
    * per-band emissions to one flag per doc (dup iff dup in ANY band),
    * left-joined back onto the full table so shingle-less docs report
    * `false` — the row set the batch oracle produces (one staged file →
    * one micro-batch, so the drain equals the batch min-id LSH answer
    * exactly; see [[nearDupDrainDir]] for the multi-batch semantics). */
  def nearDupViaStream(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    import spark.implicits._
    // the staged table is ONE parquet file -> one input split, which
    // would single-thread the md5 kernel (measured 13 s vs ~2 s at
    // sf0.1). Production doc streams arrive pre-partitioned (Kafka
    // partitions / many landing files); locally we spread the
    // micro-batch explicitly. The exchange moves the batch's raw docs
    // once, UPSTREAM of the band shuffle the state machine performs
    // anyway — no new data-sized shuffle class.
    val spread = docsStream(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val bandRows = graft.dedup.Dedup
      .minhashBandsPerRow(spread, "doc_id", "text")
      .as[BandRow]
    val drained = runToCompletion(nearDup(bandRows).toDF(), queryName, OutputMode.Append())
    val byDoc = drained.groupBy("doc_id").agg(max(col("dup")).as("_d"))
    spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
      .join(byDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("_d"), lit(false)).as("is_dup"))
  }

  /** The `ev_sessionize` answer computed by the STREAMING state machine:
    * drain [[sessionize]] over the file-source stream (Append mode — the
    * only mode `flatMapGroupsWithState` supports) and reduce the emitted
    * per-batch updates to final per-session counts. `n_events` is monotone
    * per (user, session) across batch emissions and the close row repeats
    * the final count, so `max` is batching-invariant: however AvailableNow
    * splits the input, the result equals the batch window form (the
    * DuckDB-oracled contract). Session ids shift +1 to match the batch
    * form's 1-based cumulative-sum numbering. `ts` is truncated to seconds
    * BEFORE the state machine so gap comparisons are exactly the batch
    * query's `date_trunc('second')` arithmetic.
    */
  def sessionCountsViaStream(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .withColumn("ts", date_trunc("second", col("ts")))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    val drained = runToCompletion(sessionize(ev).toDF(), queryName, OutputMode.Append())
    drained
      .groupBy(col("user_id"), (col("session_id") + 1L).as("session_id"))
      .agg(max(col("n_events")).as("n_events"))
  }

  /** STREAM-STREAM inner join with an event-time range condition — the
    * "attribute each click to the views it followed within N minutes"
    * shape (conversion attribution, funnel stitching). Both sides carry
    * watermarks and the join condition bounds the time distance, which
    * is what lets Spark EVICT buffered rows: left state lives `within` +
    * watermark past the right-side watermark, not forever. Without the
    * range bound a stream-stream join must buffer both streams
    * unboundedly. Returns the DRAINED pair rows (Append mode — the only
    * mode a stream-stream inner join supports); callers aggregate the
    * bounded result in batch.
    */
  def streamStreamPairs(
      spark: SparkSession, dir: String, queryName: String,
      leftType: String = "view", rightType: String = "click",
      within: String = "30 minutes", watermark: String = "3650 days",
      statePartitions: Option[Int] = Some(8)
  ): DataFrame = {
    // span-covering watermark default, same reasoning as the dedup drain:
    // batch-equality must not depend on the whole input arriving in one
    // micro-batch (a multi-file staging or maxFilesPerTrigger would
    // advance the watermark between batches and drop out-of-order rows as
    // late). A live pipeline picks a real horizon and accepts the
    // late-drop contract; state is then bounded by rate × (horizon +
    // range), not by stream lifetime.
    val ev = eventsStream(spark, dir)
      .withColumn("ts", date_trunc("second", col("ts")))
    val l = ev.filter(col("event_type") === leftType)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", watermark)
    val r = ev.filter(col("event_type") === rightType)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", watermark)
    val pairs = l.join(r,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr(s"INTERVAL $within"))
    runToCompletion(pairs, queryName, OutputMode.Append(), statePartitions)
  }

  /** STREAM-STREAM LEFT OUTER join: every left (view) row pairs with the
    * right (click) rows inside its forward time range, and left rows that
    * never matched emit ONCE with nulls — but only after the watermark
    * proves no future right row can still match (outer emission is
    * watermark-gated; inner matches emit immediately). That gate is the
    * semantic difference from batch: a left row younger than
    * `final watermark − within` is still "awaiting a match" when a
    * bounded drain ends, so it emits NOTHING — the declared query's batch
    * oracle applies exactly that eviction predicate, making the
    * incremental outer-join state machine hash-checkable.
    *
    * `delay` defaults to 0: the watermark tracks min(max left ts, max
    * right ts) and AvailableNow's final no-data batch flushes every
    * evictable unmatched row. State stays bounded by rate × (within +
    * delay) on both sides.
    *
    * Batch-oracle equality REQUIRES the whole input in one micro-batch
    * (same invariant streamStreamPairs documents): with delay 0, a
    * multi-file staging or maxFilesPerTrigger would advance the
    * watermark between batches and drop later out-of-order rows as late
    * input. eventsStream stages exactly one file, which is what makes
    * the drained result equal the documented eviction predicate; a live
    * pipeline picks a real `delay` horizon and accepts the late-drop
    * contract.
    */
  def streamStreamLeftOuter(
      spark: SparkSession, dir: String, queryName: String,
      leftType: String = "view", rightType: String = "click",
      within: String = "30 minutes", delay: String = "0 seconds",
      statePartitions: Option[Int] = Some(8)
  ): DataFrame = {
    val ev = eventsStream(spark, dir)
      .withColumn("ts", date_trunc("second", col("ts")))
    val l = ev.filter(col("event_type") === leftType)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", delay)
    val r = ev.filter(col("event_type") === rightType)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", delay)
    val joined = l.join(r,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr(s"INTERVAL $within"),
      "leftOuter")
    runToCompletion(joined, queryName, OutputMode.Append(), statePartitions)
  }

  /** STREAM-STREAM FULL OUTER join — completes the join family: inner
    * pairs emit immediately; unmatched LEFT rows emit once the watermark
    * passes `v_ts + within` (no future right row can match); unmatched
    * RIGHT rows emit once it passes `c_ts` (candidate lefts must satisfy
    * `v_ts ≤ c_ts`, and future lefts are younger than the watermark).
    * Both eviction predicates are mirrored in the declared query's batch
    * oracle, so the two-sided outer state machine is hash-checkable.
    * Same single-micro-batch invariant as [[streamStreamLeftOuter]].
    */
  def streamStreamFullOuter(
      spark: SparkSession, dir: String, queryName: String,
      leftType: String = "view", rightType: String = "click",
      within: String = "30 minutes", delay: String = "0 seconds",
      statePartitions: Option[Int] = Some(8)
  ): DataFrame = {
    val ev = eventsStream(spark, dir)
      .withColumn("ts", date_trunc("second", col("ts")))
    val l = ev.filter(col("event_type") === leftType)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", delay)
    val r = ev.filter(col("event_type") === rightType)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", delay)
    val joined = l.join(r,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr(s"INTERVAL $within"),
      "fullOuter")
    runToCompletion(joined, queryName, OutputMode.Append(), statePartitions)
  }

  /** Streaming exact dedup (the streaming face of `Dedup.exactGroups`):
    * drop events whose key was already seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` keeps one state entry per key and
    * EVICTS it once the watermark passes — state is bounded by (arrival
    * rate × watermark), not by stream lifetime, which is what makes exact
    * dedup possible on an unbounded stream at all. (Classic
    * `dropDuplicates` on a stream never evicts — unbounded state.)
    */
  /** Streaming last-touch attribution — the online form of the batch
    * `FunnelOps.lastTouchAttribution` window query: per-user keyed state
    * holds only the most recent touch (one (sec, type) pair — O(|users|)
    * state, not O(|events|)), and each conversion is attributed THE
    * MOMENT IT ARRIVES instead of waiting for a batch window over the
    * whole history. Events inside a micro-batch are processed in the
    * batch form's exact (second-truncated ts, event_id) order, so a
    * same-second touch with a smaller id is credited and one with a
    * larger id is not — the same strictly-preceding contract.
    *
    * Cross-batch ordering rides the source's per-user event-time order
    * (true for the bounded AvailableNow drain; a production deployment
    * keys its Kafka partitions by user). Conversions are emitted exactly
    * once (Append), so any downstream aggregation is batching-invariant.
    */
  def attribute(
      events: Dataset[Event],
      touchTypes: Set[String],
      convType: String,
      lookbackSec: Long,
      watermark: String = "2 hours"
  ): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId: Long, batch: Iterator[Event], state: GroupState[TouchState]) =>
          // (sec, id) — NOT (millis, id): the batch query orders on the
          // second-truncated time, and a conversion and touch in the same
          // second must tie-break on the id exactly like the window does
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime / 1000L, e.event_id))
          var s = state.getOption.getOrElse(TouchState(Long.MinValue, ""))
          val out = Seq.newBuilder[Attribution]
          sorted.foreach { e =>
            val sec = e.ts.getTime / 1000L
            if (e.event_type == convType) {
              val ch =
                if (s.lastTouchSec != Long.MinValue && s.lastTouchSec >= sec - lookbackSec)
                  s.lastTouchType
                else "(none)"
              out += Attribution(userId, e.event_id, ch)
            }
            if (touchTypes.contains(e.event_type)) s = TouchState(sec, e.event_type)
          }
          if (s.lastTouchSec != Long.MinValue) state.update(s)
          out.result().iterator
      }
  }

  /** The `ev_attribution` answer computed by the STREAMING state machine:
    * drain [[attribute]] over the file-source stream and aggregate the
    * per-conversion emissions to (channel, n_conv, n_users) — the same
    * aggregation the batch window form feeds, so the drained result is
    * checked by the same DuckDB oracle. */
  def attributionViaStream(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .withColumn("ts", date_trunc("second", col("ts")))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    val drained = runToCompletion(
      attribute(ev, Set("view", "click", "signup"), "purchase", 7L * 86400L).toDF(),
      queryName, OutputMode.Append())
    drained
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conv"), countDistinct(col("user_id")).as("n_users"))
  }

  /** One foreachBatch MERGE step of [[upsertViaStream]] (package-visible
    * so the spec can drive multi-batch sequences directly): union the
    * batch with the current state, keep the greatest (ts, event_id) row
    * per user, write to `next`, swap into `state`. The swap (write
    * elsewhere, then replace) is what makes the read-modify-write safe
    * against the lazy plan still reading the directory being replaced.
    */
  private[streaming] def mergeLatestBatch(
      batch: DataFrame,
      stateDir: java.nio.file.Path,
      nextDir: java.nio.file.Path): Unit = {
    def rmTree(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(java.nio.file.Files.delete(_))
        finally s.close()
      }
    val cur =
      if (java.nio.file.Files.exists(stateDir))
        batch.sparkSession.read.parquet(stateDir.toString)
      else batch.limit(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    cur.unionByName(batch)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .write.mode("overwrite").parquet(nextDir.toString)
    rmTree(stateDir)
    java.nio.file.Files.move(nextDir, stateDir)
    ()
  }

  /** Streaming CDC materialization — `foreachBatch` latest-wins upsert.
    * Each micro-batch MERGES into a keyed state table: per user, keep the
    * row with the greatest (second-truncated ts, event_id). Because
    * "latest" is an associative max, the materialized table is invariant
    * to how the stream is split into batches — the exact property a CDC
    * sink needs for replay/restart safety.
    *
    * The local merge is read → union → window-keep-latest → write-to-next
    * → atomic directory swap (never overwrite a directory a lazy plan may
    * still read). On a cluster the same foreachBatch body targets a
    * transactional table format's MERGE; the swap here is the
    * filesystem-only stand-in with the identical merge semantics. State
    * is O(|distinct users|), shuffled once per batch on the key.
    */
  def upsertViaStream(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val tmp = System.getProperty("java.io.tmpdir")
    val stateDir = java.nio.file.Paths.get(tmp, s"graft_upsert_${queryName}")
    val nextDir = java.nio.file.Paths.get(tmp, s"graft_upsert_${queryName}_next")
    def rmTree(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(java.nio.file.Files.delete(_))
        finally s.close()
      }
    rmTree(stateDir); rmTree(nextDir) // clean slate: a stale materialization must not leak in
    val ev = eventsStream(spark, dir)
      .withColumn("ts", date_trunc("second", col("ts")))
      .select("user_id", "ts", "event_id", "event_type", "value")
    val q = ev.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeLatestBatch(batch, stateDir, nextDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(stateDir.toString)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Gap-based sessionization with explicit keyed state
    * (`flatMapGroupsWithState`): a session closes when no event arrives
    * within `gapSeconds` of the previous one (event time). Emits one
    * update row per processed batch per open session and a closing row on
    * timeout. State per user is O(1) — (sessionId, lastTs, count) — so
    * state size grows with |active users|, not |events|.
    */
  def sessionize(
      events: Dataset[Event],
      gapSeconds: Long = 1800L,
      watermark: String = "2 hours"
  ): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark) // event-time timeout needs a watermark
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            // close the session but KEEP the numbering in state: removing
            // it would restart the user's next session at id 0, colliding
            // with an already-emitted session. The placeholder (count=0,
            // no timeout re-armed) never emits on its own; a later event
            // resumes from sessionId+1. State is O(|users ever seen|) —
            // the production trade for collision-free dense ids; key the
            // session by first-event time instead if eviction must win.
            state.update(SessionState(s.sessionId + 1L, Long.MinValue, 0L))
            Iterator.single(SessionUpdate(userId, s.sessionId, s.count, closed = true))
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var s = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
            val out = Seq.newBuilder[SessionUpdate]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (s.lastTs != Long.MinValue && t - s.lastTs > gapSeconds * 1000L) {
                out += SessionUpdate(userId, s.sessionId, s.count, closed = true)
                s = SessionState(s.sessionId + 1L, t, 1L)
              } else {
                s = SessionState(s.sessionId, t, s.count + 1L)
              }
            }
            state.update(s)
            if (state.getCurrentWatermarkMs() > 0) {
              state.setTimeoutTimestamp(s.lastTs + gapSeconds * 1000L)
            }
            out += SessionUpdate(userId, s.sessionId, s.count, closed = false)
            out.result().iterator
          }
      }
  }
}
