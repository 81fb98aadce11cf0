package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface over the `events` table.
  *
  * The reference has no streaming (its "stream" is a synchronous generator,
  * SURVEY.md §2.7); this is the north-star extension: event-time tumbling
  * windows with a watermark, expressed so the same aggregation is valid as a
  * batch query (the oracle checks the batch form; the streaming form is
  * exercised by ScalaTest through the memory sink).
  *
  * Scale: `readStream` over a partitioned directory + watermarked window agg
  * is the canonical unbounded-ingest plan — state is bounded by the
  * watermark, partial aggregation happens map-side before the window
  * shuffle.
  */
object EventsStreaming {

  /** (parentDir, globFilter) for a path that may be a single parquet file. */
  private[streaming] def splitDirGlob(path: String): (String, String) = {
    val f = new java.io.File(path)
    if (f.isFile) (f.getParent, f.getName) else (path, "*")
  }

  /** Shared file-stream source: accepts a directory OR a single parquet
    * file, handles the fixture's nanos timestamps, bounds batch size. All
    * streaming helpers go through here so they agree on path semantics. */
  private[streaming] def fileStream(
      spark: SparkSession, parquetPath: String,
      maxFilesPerTrigger: Int = Int.MaxValue): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema: StructType = spark.read.parquet(parquetPath).schema
    val (dir, glob) = splitDirGlob(parquetPath)
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val bounded = if (maxFilesPerTrigger == Int.MaxValue) reader
      else reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    graft.Tables.normalizeTs(bounded.parquet(dir))
  }

  /** The shared aggregation: tumbling 1-hour window per event_type. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // exact decimal sum internally; DOUBLE at the output boundary so the
        // driver's pandas canonicalization matches the DuckDB oracle (both
        // engines produce the identical correctly-rounded float64)
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Batch form (oracle-checkable). */
  def hourlyBatch(events: DataFrame): DataFrame = hourlyAgg(events)

  /** Sliding-window counts (window `size`, hop `slide`): each event lands
    * in size/slide windows — the overlap factor is the only row
    * amplification, and state per key stays bounded under a watermark in
    * the streaming form (same operator; `window()` is stream-compatible). */
  def slidingAgg(
      events: DataFrame,
      size: String = "2 hours", slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), size, slide).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n_events"))

  /** Streaming form: file-source stream over the parquet path, watermarked;
    * complete-mode memory sink for test observation. */
  def hourlyStream(
      spark: SparkSession, parquetPath: String, queryName: String): StreamingQuery = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema: StructType = spark.read.parquet(parquetPath).schema
    // file stream sources need a directory; point at the parent dir with a
    // glob filter so a bare single-file fixture also streams
    val (dir, glob) = splitDirGlob(parquetPath)
    val stream = graft.Tables.normalizeTs(
      spark.readStream.schema(schema).option("pathGlobFilter", glob).parquet(dir))
    hourlyAgg(stream.withWatermark("ts", "1 hour"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming exact dedup: `dropDuplicatesWithinWatermark` on the id —
    * duplicates arriving within the watermark horizon are suppressed, and
    * Spark evicts state past the horizon (plain dropDuplicates(id) would
    * keep one state entry per id FOREVER unless the event-time column is
    * in the key). The unbounded-ingest form of Dedup.exact. */
  def dedupStream(
      spark: SparkSession, parquetPath: String, queryName: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema: StructType = spark.read.parquet(parquetPath).schema
    val (dir, glob) = splitDirGlob(parquetPath)
    val stream = graft.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
    stream.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Stream-stream interval join: each click joined to error events of the
    * same user within the preceding hour. Watermarks on BOTH sides + the
    * time-bound condition let Spark expire join state — the unbounded
    * enrichment join (without the bound, state grows forever).
    */
  def clickErrorJoinStream(
      spark: SparkSession, parquetPath: String, queryName: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema: StructType = spark.read.parquet(parquetPath).schema
    val (dir, glob) = splitDirGlob(parquetPath)
    def side(name: String) = graft.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
      .withWatermark("ts", "1 hour")
    val clicks = side("clicks").filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val errors = side("errors").filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("err_user"),
        col("ts").as("error_ts"))
    clicks.join(errors,
        col("user_id") === col("err_user") &&
          col("error_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
          col("error_ts") <= col("click_ts"))
      .select("click_id", "user_id", "click_ts", "error_id", "error_ts")
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Batch form of the same join, for equivalence checks. */
  def clickErrorJoinBatch(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("err_user"),
        col("ts").as("error_ts"))
    clicks.join(errors,
        col("user_id") === col("err_user") &&
          col("error_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
          col("error_ts") <= col("click_ts"))
      .select("click_id", "user_id", "click_ts", "error_id", "error_ts")
  }

  /** Static user-tier dimension: split at the corpus mean events-per-user.
    * The compare cross-multiplies integers (n * n_users >= total) — no
    * division, exact on any engine, and the split stays meaningful at any
    * scale factor. */
  def userTierDim(events: DataFrame): DataFrame = {
    val per = events.groupBy("user_id").agg(count(lit(1)).as("n"))
    val tot = per.agg(sum(col("n")).as("tot"), count(lit(1)).as("nu"))
    per.crossJoin(broadcast(tot))
      .select(col("user_id"),
        when(col("n") * col("nu") >= col("tot"), lit("heavy"))
          .otherwise(lit("light")).as("user_tier"))
  }

  /** Shared stream-static enrichment aggregation: events joined to the
    * (small, broadcast) dimension, then windowed counts per tier. */
  def tierAgg(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), "user_id")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("user_tier"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("win.start").as("win_start"), col("user_tier"),
        col("n_events"))

  /** Stream-static join — the canonical enrichment pattern: each
    * micro-batch probes the broadcast static dimension snapshot; no second
    * watermark and no join state to expire (dims update by swapping the
    * static side between restarts). Complete-mode memory sink for test
    * observation; production appends with the watermark. */
  def tierAggStream(
      spark: SparkSession, parquetPath: String,
      queryName: String): StreamingQuery = {
    val stream = fileStream(spark, parquetPath)
    val static = graft.Tables.normalizeTs(
      spark.read.schema(spark.read.parquet(parquetPath).schema)
        .parquet(parquetPath))
    tierAgg(stream.withWatermark("ts", "1 hour"), userTierDim(static))
      .writeStream.outputMode("complete").format("memory")
      .queryName(queryName).trigger(Trigger.AvailableNow()).start()
  }

  /** LEFT OUTER stream-stream interval join: every click enriched with the
    * same user's purchases in the following hour — or emitted null-extended
    * once the watermark PROVES no such purchase can still arrive. The outer
    * variant of [[clickErrorJoinStream]]'s inner join, and the semantics
    * production funnels actually need ("every click exactly once, converted
    * or not").
    *
    * Mechanics that make the outer side correct and bounded: watermarks on
    * BOTH inputs plus the two-sided time bound let Spark expire click state
    * at watermark > click_ts + 1h; at expiry an unmatched click is emitted
    * with null purchase columns. Unmatched rows therefore trail the data by
    * the watermark delay + join window — and clicks still inside that
    * horizon when the stream ends are never emitted (no final watermark
    * advance exists to prove them unmatched). Timestamps are surfaced as
    * epoch micros (`unix_micros`) so the result is engine-portable.
    */
  def clickPurchaseLeftOuterStream(
      spark: SparkSession, parquetPath: String, queryName: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    def side = fileStream(spark, parquetPath, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
    val clicks = side.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val buys = side.filter(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
        col("ts").as("buy_ts"))
    clicks.join(buys,
        col("user_id") === col("buy_user") &&
          col("buy_ts") > col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("click_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        col("buy_id"), unix_micros(col("buy_ts")).as("buy_us"))
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Watermarked append-mode aggregation into an exactly-once parquet
    * FILE sink — the production output path: the sink's `_spark_metadata`
    * commit log records exactly the files each batch committed, so a
    * batch read of `outDir` sees only transactionally-complete data (a
    * crashed batch's orphan files are invisible), and a checkpointed
    * restart appends without duplicating. Only watermark-proven windows
    * ever reach the sink (append mode), which is what makes the on-disk
    * dataset immutable-append. */
  def hourlyFileSink(
      spark: SparkSession, parquetPath: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    hourlyAgg(fileStream(spark, parquetPath)
        .filter(org.apache.spark.sql.functions.col("ts").isNotNull)
        .withWatermark("ts", "1 hour"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Watermarked append-mode variant (drops late data; state bounded by the
    * watermark) — the production shape for continuous ingest. */
  def hourlyStreamAppend(
      spark: SparkSession, parquetPath: String, queryName: String): StreamingQuery = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema: StructType = spark.read.parquet(parquetPath).schema
    val (dir, glob) = splitDirGlob(parquetPath)
    val stream = graft.Tables.normalizeTs(
      spark.readStream.schema(schema).option("pathGlobFilter", glob).parquet(dir))
    hourlyAgg(stream.withWatermark("ts", "1 hour"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
