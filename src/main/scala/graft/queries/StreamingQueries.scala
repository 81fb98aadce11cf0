package graft
package queries

import graft.functions.NumericFunctions.fround
import graft.streaming.EventsStreaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `st` family: Structured Streaming operators over `events`, each
  * run to completion on a file-replay stream. */
private[queries] object StreamingQueries {
  import QueryKit._

  /** Run `f` with spark.sql.shuffle.partitions temporarily set to `n` —
    * used around the one-shot STATEFUL streaming queries: every state
    * partition pays per-batch store commit/snapshot IO on every
    * micro-batch (a stream-stream join keeps four stores per partition),
    * so a test-scale stream at the session's 32 partitions spends its
    * time committing near-empty state files (measured 13s -> 4s on st7).
    * State partitioning never changes results — state is key-hashed —
    * only layout; a production deployment sizes it by state volume
    * instead (this is exactly the knob Spark reads at first query start). */
  private def withShufflePartitions[A](s: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, prev)
  }

  /** Write a two-half ordered-replay stream fixture in ONE pass (r11):
    * the old per-half form ran two scan+filter+coalesce(1) write JOBS
    * over the same source — one full source scan and one job round-trip
    * of pure overhead each, paid inside the timed region on every bench
    * run. Here the source is scanned once, each row tagged with its
    * half, and a single coalesce(1) dynamic-partition write emits
    * exactly one parquet file per half; the files are then moved to the
    * flat <name>.parquet paths the file stream expects, with pinned
    * mtimes (the stream orders micro-batches by modification time).
    * Every st consumer folds its batches through order-insensitive
    * algebra (joins/aggs/latest-by-seq/XOR/KMV/CMS), so within-file row
    * order — the only thing this changes — cannot affect results (the
    * per-query oracles re-proved it, r11). */
  private def writeHalves(df: DataFrame, firstHalf: Column,
      destDir: java.nio.file.Path, scratch: java.nio.file.Path,
      mtimeA: Long = 1700000000000L,
      mtimeB: Long = 1700000100000L): Unit = {
    val stage = scratch.resolve("halves_stage")
    df.withColumn("__half", when(firstHalf, "a").otherwise("b"))
      .coalesce(1)
      .write.mode("overwrite").partitionBy("__half")
      .parquet(stage.toString)
    Seq(("a", mtimeA), ("b", mtimeB)).foreach { case (name, mtime) =>
      val dir = stage.resolve(s"__half=$name").toFile
      val part = Option(dir.listFiles())
        .flatMap(_.find(_.getName.endsWith(".parquet")))
      part match {
        case Some(p) =>
          java.nio.file.Files.move(p.toPath,
            destDir.resolve(name + ".parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        case None =>
          // an empty half is legitimate at tiny/new fixture vintages:
          // the old per-half writer emitted a zero-row parquet file and
          // the stream consumed it as an empty batch — keep that
          // contract instead of hard-erroring (ADVICE r11)
          val empty = stage.resolve(s"__empty_$name")
          df.limit(0).coalesce(1).write.mode("overwrite")
            .parquet(empty.toString)
          val zp = Option(empty.toFile.listFiles())
            .flatMap(_.find(_.getName.endsWith(".parquet")))
            .getOrElse(sys.error(s"writeHalves: empty-half write for " +
              s"$name produced no parquet file"))
          java.nio.file.Files.move(zp.toPath,
            destDir.resolve(name + ".parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      destDir.resolve(name + ".parquet").toFile.setLastModified(mtime)
    }
    LocalFiles.deleteTree(stage)
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("st1_stream_hourly", ((s, dir) => {
      val qn = "graft_st1_" + math.abs(dir.hashCode).toString
      withShufflePartitions(s, 8) {
        val q = EventsStreaming.hourlyStream(s, s"$dir/events.parquet", qn)
        q.awaitTermination()
      }
      s.table(qn)
    }),
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
        |count(*) AS n_events, sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    QueryDef("st6_session_window", ((s, dir) =>
      // native session windows: a 30-minute inactivity gap closes the
      // session. The same declarative groupBy runs unchanged under
      // readStream (session_window is the streaming-native sessionizer
      // with watermark-bounded state); q16 is the window-function
      // formulation of the same islands, cross-checked here
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))),
      """WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id, event_id, ts, us,
        |lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
        |sf AS (SELECT user_id, event_id, ts, us,
        |CASE WHEN prev IS NULL OR us - prev >= 1800000000 THEN 1 ELSE 0 END
        |  AS new_sess FROM l),
        |sid AS (SELECT user_id, ts, sum(new_sess) OVER (
        |PARTITION BY user_id ORDER BY us, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM sf)
        |SELECT user_id, min(ts) AS session_start,
        |max(ts) + INTERVAL 30 MINUTE AS session_end,
        |count(*) AS n_events FROM sid GROUP BY user_id, sid""".stripMargin),
    QueryDef("st7_stream_left_outer", ((s, dir) => {
      // LEFT OUTER stream-stream interval join, replayed as two disjoint
      // time halves (ordered micro-batches): matched click→purchase pairs
      // emit when the match arrives; unmatched clicks emit null-extended
      // exactly when a watermark advance proves the join window closed.
      // The oracle reproduces both parts deterministically (see oracleSql).
      // one-pass fixture build (see writeHalves), memoized per session/sf
      // (see stHalvesFixture); batch order pinned by mtime
      val tmp = stHalvesFixture(s, dir, "st7", "events") { p =>
        val ev = t(s, dir, "events")
        val split = lit("2024-01-16 00:00:00").cast("timestamp")
        writeHalves(ev, col("ts") < split, p, p)
      }
      val qn = "graft_st7_" + math.abs(dir.hashCode).toString
      // 4 state partitions, not 8: the interval join keeps FOUR state
      // stores per partition and every micro-batch commits each one, so
      // the one-shot test stream pays 4x partitions x batches in store
      // IO; keys here are few enough that layout, not parallelism, wins
      withShufflePartitions(s, 4) {
        val q = EventsStreaming.clickPurchaseLeftOuterStream(s, tmp.toString, qn)
        q.awaitTermination()
      }
      s.table(qn)
    }), {
      // matched pairs: the plain interval join (no match is ever lost —
      // a purchase that could match an evicted click would have to sit
      // > 1h past the click, outside the join window by construction).
      // unmatched clicks: emitted iff the FINAL watermark proved their
      // window closed. The watermark is min over the two event-time
      // nodes (Catalyst pushes each side's event-type filter below its
      // watermark operator, so clicks and purchases track separate
      // maxes), floored to whole milliseconds (Spark tracks event-time
      // stats in ms), minus the 1h delay; a click evicts when
      // click_ts + 1h (the window close) is below that. All in epoch
      // micros — exactly the integers Spark emits.
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |epoch_us(ts)::BIGINT AS click_us FROM events
        |WHERE event_type = 'click'),
        |p AS (SELECT event_id AS buy_id, user_id AS buy_user,
        |epoch_us(ts)::BIGINT AS buy_us FROM events
        |WHERE event_type = 'purchase'),
        |m AS (SELECT c.click_id, c.user_id, c.click_us, p.buy_id, p.buy_us
        |FROM c JOIN p ON p.buy_user = c.user_id AND p.buy_us > c.click_us
        |AND p.buy_us <= c.click_us + 3600000000),
        |wm AS (SELECT least((SELECT max(click_us) FROM c),
        |(SELECT max(buy_us) FROM p)) // 1000 * 1000 - 3600000000 AS w),
        |u AS (SELECT c.click_id, c.user_id, c.click_us,
        |NULL::BIGINT AS buy_id, NULL::BIGINT AS buy_us
        |FROM c, wm WHERE c.click_us + 3600000000 < wm.w
        |AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id))
        |SELECT * FROM m UNION ALL SELECT * FROM u""".stripMargin
    }),
    QueryDef("st8_stream_cdc_apply", ((s, dir) => {
      // streaming CDC ingestion: the d6 changelog replayed as two
      // OUT-OF-ORDER halves (even seqs, then odd — each batch holds seqs
      // below AND above the other's), folded through the versioned state
      // merge in foreachBatch. applyVersioned's latest-op-per-key algebra
      // is associative + commutative over batches and keeps delete
      // TOMBSTONES, so the final snapshot is independent of micro-batch
      // boundaries and equals one global apply — which is exactly what
      // the oracle computes over the whole log at once.
      import graft.operators.ChangeData
      def logFrame = t(s, dir, "orders").select(
        (col("o_custkey") + when(col("o_orderkey") % 13 === 0, 1000000L)
          .otherwise(0L)).as("c_custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 < 3, "D")
          .when(col("o_orderkey") % 10 < 7, "U").otherwise("I").as("op"),
        col("o_totalprice").as("acctbal"),
        concat(lit("SEG_"), col("o_orderpriority")).as("mkt"))
      val tmp = stHalvesFixture(s, dir, "st8", "orders") { p =>
        writeHalves(logFrame, col("seq") % 2 === 0, p, p)
      }
      val logSchema = logFrame.schema
      var state = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], logSchema)
      val q = s.readStream.schema(logSchema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(tmp.toString)
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // materialize INSIDE the batch (a micro-batch DF is not valid
          // after its batch completes), truncate lineage per fold, and
          // release the superseded checkpoint so a long-running stream
          // holds ONE state RDD, not one per batch (ADVICE r8)
          val prev = state
          state = ChangeData.applyVersioned(state, batch,
            "c_custkey", "seq", "op").localCheckpoint(true)
          graft.FrameRelease.release(prev)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ChangeData.snapshot(state, "op").select(
        col("c_custkey"), col("seq").as("last_seq"), col("op").as("last_op"),
        fround(col("acctbal"), 2).as("acctbal"), col("mkt").as("c_mktsegment"))
    }),
      """WITH log AS (SELECT
        |  o_custkey + CASE WHEN o_orderkey % 13 = 0 THEN 1000000 ELSE 0 END
        |    AS c_custkey,
        |  o_orderkey AS seq,
        |  CASE WHEN o_orderkey % 10 < 3 THEN 'D'
        |       WHEN o_orderkey % 10 < 7 THEN 'U' ELSE 'I' END AS op,
        |  o_totalprice AS acctbal,
        |  'SEG_' || o_orderpriority AS mkt
        |FROM orders),
        |latest AS (SELECT c_custkey, seq, op, acctbal, mkt FROM (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY seq DESC,
        |    CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END DESC) AS rn
        |  FROM log) WHERE rn = 1)
        |SELECT c_custkey, seq AS last_seq, op AS last_op,
        |  floor(acctbal * 100.0) / 100.0 AS acctbal,
        |  mkt AS c_mktsegment
        |FROM latest WHERE op <> 'D'""".stripMargin),
    QueryDef("st5_stream_static_join", ((s, dir) => {
      // stream-static enrichment: the event stream probes a broadcast
      // user-tier dimension per micro-batch (no join state, no second
      // watermark) — run as a REAL streaming query into a memory sink
      val qn = "graft_st5_" + math.abs(dir.hashCode).toString
      withShufflePartitions(s, 8) {
        val q = EventsStreaming.tierAggStream(s, s"$dir/events.parquet", qn)
        q.awaitTermination()
      }
      s.table(qn)
    }),
      """WITH per AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS tot, count(*)::BIGINT AS nu
        |FROM per),
        |dim AS (SELECT user_id, CASE WHEN n * nu >= tot THEN 'heavy'
        |ELSE 'light' END AS user_tier FROM per, tot)
        |SELECT date_trunc('hour', e.ts) AS win_start, d.user_tier,
        |count(*) AS n_events
        |FROM events e JOIN dim d USING (user_id)
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("st4_stateful_user_agg", ((s, dir) => {
      // Spark 4 transformWithState: RocksDB-backed ValueState per user,
      // integer-cent arithmetic so the streaming state equals the batch
      // groupBy bit-for-bit (the oracle)
      val qn = "graft_st4_" + math.abs(dir.hashCode).toString
      withShufflePartitions(s, 8) {
        val q = graft.streaming.StatefulUserAgg.userAggStream(
          s, s"$dir/events.parquet", qn)
        q.awaitTermination()
      }
      s.table(qn)
    }),
      """SELECT user_id, count(*) AS n_events,
        |sum(floor(value * 100.0)::BIGINT)::BIGINT AS value_cents
        |FROM events GROUP BY user_id""".stripMargin),
    QueryDef("st9_timer_sessions", ((s, dir) => {
      // event-time TIMER sessionization (transformWithState ListState +
      // registerTimer): a session emits exactly once, complete, when the
      // watermark proves the user idle for the full gap — the INCLUSIVE
      // expiry rule (timer <= watermark) is pinned in TimerSessionsSpec
      // and mirrored by the oracle's per-user closure predicate
      val qn = "graft_st9_" + math.abs(dir.hashCode).toString
      withShufflePartitions(s, 8) {
        val q = graft.streaming.TimerSessions.sessionStream(
          s, s"$dir/events.parquet", qn, gapMinutes = 10,
          delayMinutes = 30)
        q.awaitTermination()
      }
      s.table(qn)
    }),
      // timer-emitted sessions: per-user 10-minute gap islands, but ONLY for
      // users whose timer provably expired — ms(last activity) + gap <=
      // ms(global max) - delay, the inclusive firing rule TimerSessionsSpec
      // pins. Open sessions (everyone else) are withheld by design.
      """WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us
        |FROM events WHERE ts IS NOT NULL),
        |wm AS (SELECT max(ts_us) // 1000 - 1800000 AS wm_ms FROM e),
        |cu AS (SELECT user_id FROM e GROUP BY 1
        |HAVING max(ts_us) // 1000 + 600000 <= (SELECT wm_ms FROM wm)),
        |ce AS (SELECT e.* FROM e JOIN cu USING (user_id)),
        |g AS (SELECT user_id, ts_us, CASE WHEN ts_us - lag(ts_us)
        |OVER (PARTITION BY user_id ORDER BY ts_us) > 600000000
        |THEN 1 ELSE 0 END AS brk FROM ce),
        |s AS (SELECT user_id, ts_us, sum(brk) OVER (PARTITION BY user_id
        |ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS grp FROM g),
        |isl AS (SELECT user_id, grp, min(ts_us) AS start_us,
        |max(ts_us) AS end_us, count(*)::BIGINT AS n_events
        |FROM s GROUP BY 1, 2)
        |SELECT user_id,
        |row_number() OVER (PARTITION BY user_id ORDER BY start_us)::BIGINT
        |  AS session_idx,
        |start_us, end_us, n_events FROM isl""".stripMargin),
    QueryDef("st10_rate_alert", ((s, dir) => {
      // threshold-crossing rate alerts on event-time state: 15-min bucket
      // counts per event_type become rise/fall alert EDGES, silence
      // zero-filled (no events IS a rate of zero), each edge emitted only
      // once the watermark proves its bucket complete. Edge detection
      // needs the previous bucket's state — a transformWithState scan,
      // not a chainable aggregation; the oracle replays the same state
      // machine with a lag window under the shared horizon predicate
      val qn = "graft_st10_" + math.abs(dir.hashCode).toString
      withShufflePartitions(s, 8) {
        val q = graft.streaming.RateAlert.alertStream(
          s, s"$dir/events.parquet", qn, bucketMinutes = 15,
          threshold = 4, delayMinutes = 30)
        q.awaitTermination()
      }
      s.table(qn)
    }),
      """WITH e AS (SELECT event_type, epoch_us(ts::TIMESTAMP) AS us
        |FROM events WHERE ts IS NOT NULL),
        |wm AS (SELECT ((max(us) // 1000 - 1800000) * 1000) // 900000000
        |  AS proven FROM e),
        |counts AS (SELECT event_type, us // 900000000 AS bk,
        |count(*)::BIGINT AS n FROM e GROUP BY 1, 2),
        |span AS (SELECT event_type, min(bk) AS b0 FROM counts GROUP BY 1),
        |spine AS (SELECT event_type,
        |unnest(range(b0, (SELECT proven FROM wm))) AS bk
        |FROM span WHERE b0 < (SELECT proven FROM wm)),
        |grid AS (SELECT s.event_type, s.bk, coalesce(c.n, 0)::BIGINT AS n
        |FROM spine s LEFT JOIN counts c
        |ON c.event_type = s.event_type AND c.bk = s.bk),
        |t AS (SELECT event_type, bk, n, n >= 4 AS above,
        |coalesce(lag(n >= 4) OVER (PARTITION BY event_type ORDER BY bk),
        |  false) AS prev FROM grid)
        |SELECT event_type, (bk * 900000000)::BIGINT AS bucket_us,
        |n AS n_events, CASE WHEN above THEN 'rise' ELSE 'fall' END AS edge
        |FROM t WHERE above <> prev""".stripMargin),
    QueryDef("st15_stream_dim_refresh", ((s, dir) => {
      // slowly-updating dimension under streaming ingest: every
      // micro-batch re-resolves the LATEST atomically published
      // dimension (w13's _SUCCESS-gated _LATEST pointer) before
      // enriching, and the dimension is REPUBLISHED between batches —
      // batch 0 joins v1 (tier = user % 2), batch 1 joins v2 (tier =
      // user % 3). File mtimes + maxFilesPerTrigger pin batch order and
      // the halves split BY the same user parity, so the per-version
      // enrichment is deterministic and the oracle replays it exactly.
      // The join is per-batch bounded; dimension resolution is one
      // pointer read — no stream-stream state
      // the dim dir is fresh PER INVOCATION (the query republishes into
      // it mid-stream, so reusing it would shift version numbers); only
      // the deterministic stream halves ride the fixture memo
      val tmp = tmpPath("graft-st15")
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
      // stream files and the published dimension live in SIBLING dirs:
      // nesting dim/v=N under the stream source trips partition discovery
      val streamDir = stHalvesFixture(s, dir, "st15", "events") { p =>
        val sd = p.resolve("stream")
        java.nio.file.Files.createDirectories(sd)
        writeHalves(ev, col("user_id") % 2 === 0, sd, p)
      }.resolve("stream")
      val users = ev.select("user_id").distinct()
      val dimDir = tmp.resolve("dim").toString
      graft.sinks.VersionedPublish.publish(
        users.select(col("user_id"), (col("user_id") % 2).as("tier")),
        dimDir)
      var acc: DataFrame = null
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(streamDir.toString)
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val (ver, path) =
            graft.sinks.VersionedPublish.resolve(s, dimDir).get
          val agg = batch
            .join(s.read.parquet(path), "user_id")
            .groupBy(lit(ver).as("dim_version"), col("tier"))
            .agg(count(lit(1)).as("n_events"),
              countDistinct(col("user_id")).as("n_users"))
          val prev = acc
          acc = (if (acc == null) agg else acc.unionAll(agg))
            .localCheckpoint(true)
          graft.FrameRelease.release(prev)
          if (id == 0L) {
            graft.sinks.VersionedPublish.publish(
              users.select(col("user_id"),
                (col("user_id") % 3).as("tier")), dimDir)
            ()
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      acc.groupBy("dim_version", "tier")
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("n_users")).as("n_users"))
    }),
      // replay of the deterministic batch/version schedule: the even-user
      // half enriches against dimension v1 (tier = user % 2), the odd
      // half against v2 (tier = user % 3)
      """WITH ev AS (SELECT event_id, user_id FROM events),
        |r0 AS (SELECT 1::BIGINT AS dim_version,
        |(user_id % 2)::BIGINT AS tier, count(*)::BIGINT AS n_events,
        |count(DISTINCT user_id)::BIGINT AS n_users
        |FROM ev WHERE user_id % 2 = 0 GROUP BY 2),
        |r1 AS (SELECT 2::BIGINT, (user_id % 3)::BIGINT,
        |count(*)::BIGINT, count(DISTINCT user_id)::BIGINT
        |FROM ev WHERE user_id % 2 <> 0 GROUP BY 2)
        |SELECT * FROM r0 UNION ALL SELECT * FROM r1""".stripMargin),
    QueryDef("st16_stream_ledger", ((s, dir) => {
      // streaming maintenance of dq15's tamper-evident ledger: each
      // micro-batch reduces to its own per-day (count, XOR) partial
      // fingerprints, folded into running state by the closed fold
      // (counts add, XORs of disjoint row sets compose) — the final
      // chain is bit-equal to fingerprinting the whole corpus at once,
      // so micro-batch boundaries cannot show. State is |days| x 3
      // values forever; the chain derives from state, never raw rows
      val ev = t(s, dir, "events")
        .select(col("ts"), col("event_id"))
      val tmp = stHalvesFixture(s, dir, "st16", "events") { p =>
        writeHalves(ev, col("event_id") % 2 === 0, p, p)
      }
      var state = graft.operators.TableDiff.dayFingerprints(
        ev.limit(0), to_date(col("ts")), Seq("event_id"))
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(tmp.toString)
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bd = graft.operators.TableDiff.dayFingerprints(
            batch, to_date(col("ts")), Seq("event_id"))
          val prev = state
          state = graft.operators.TableDiff
            .foldDailyFingerprints(state.unionAll(bd)).localCheckpoint(true)
          graft.FrameRelease.release(prev)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.operators.TableDiff.chainFromDaily(state)
    }),
      // = dq15's oracle verbatim: the closed fold makes micro-batch
      // boundaries provably invisible, so the streaming ledger must
      // equal the one-shot chain over the whole corpus
      """WITH e AS (SELECT (ts::TIMESTAMP::DATE)::VARCHAR AS bucket,
        |('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT AS h
        |FROM events),
        |d AS (SELECT bucket, count(*)::BIGINT AS n_rows,
        |coalesce(bit_xor(h), 0)::BIGINT AS fp_xor FROM e GROUP BY 1),
        |o AS (SELECT bucket, n_rows, fp_xor,
        |row_number() OVER (ORDER BY bucket)::BIGINT AS rn FROM d),
        |c AS (WITH RECURSIVE k(rn, chain) AS (
        |SELECT 0::BIGINT, ''
        |UNION ALL
        |SELECT o.rn, md5(k.chain || ':' || o.bucket || ':'
        |  || o.n_rows::VARCHAR || ':' || o.fp_xor::VARCHAR)
        |FROM k JOIN o ON o.rn = k.rn + 1)
        |SELECT rn, chain FROM k WHERE rn >= 1)
        |SELECT o.bucket, o.n_rows, o.fp_xor, c.chain AS chain_hash
        |FROM o JOIN c ON c.rn = o.rn""".stripMargin),
    QueryDef("st14_stream_kmv", ((s, dir) => {
      // streaming maintenance of the per-day column-stats/KMV artifacts:
      // each micro-batch reduces to its own constant-size per-day
      // sketches, folded into running state by the exact KMV merge
      // (bottom-k of a union = bottom-k of the bottom-k's) — final state
      // bit-equal to sketching the whole corpus at once, micro-batch
      // boundaries cannot show. State is |days| * (k+4) values forever.
      val ev = t(s, dir, "events")
        .select(to_date(col("ts")).cast("string").as("day"),
          col("user_id"))
      val tmp = stHalvesFixture(s, dir, "st14", "events") { p =>
        writeHalves(ev, col("user_id") % 2 === 0, p, p)
      }
      var state = graft.operators.Sketches.columnStatsByGroup(
        ev.limit(0), "day", "user_id", 16)
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(tmp.toString)
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bs = graft.operators.Sketches.columnStatsByGroup(
            batch, "day", "user_id", 16)
          val prev = state
          state = graft.operators.Sketches
            .foldColumnStats(state.unionAll(bs), 16).localCheckpoint(true)
          graft.FrameRelease.release(prev)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      state.select(col("grp").as("day"), col("n_rows"), col("n_nulls"),
        col("min_v"), col("max_v"),
        fround(when(size(col("kmv")) < 16, size(col("kmv")).cast("double"))
          .otherwise(lit(15.0) * lit(2147483648.0) /
            element_at(col("kmv"), 16).cast("double")), 2)
          .as("est_distinct"))
    }),
      """WITH e AS (SELECT ts::TIMESTAMP::DATE::VARCHAR AS day,
        |user_id AS v FROM events),
        |per AS (SELECT day, count(*)::BIGINT AS n_rows,
        |count(*) FILTER (v IS NULL)::BIGINT AS n_nulls,
        |min(v)::BIGINT AS min_v, max(v)::BIGINT AS max_v FROM e
        |GROUP BY 1),
        |hs AS (SELECT DISTINCT day, (v * 2654435761) % 2147483648 AS h
        |FROM e WHERE v IS NOT NULL),
        |pk AS (SELECT day, list_sort(list(h)) AS kl FROM hs GROUP BY 1)
        |SELECT per.day, n_rows, n_nulls, min_v, max_v,
        |floor((CASE WHEN pk.day IS NULL THEN 0.0
        |WHEN len(kl) < 16 THEN len(kl)::DOUBLE
        |ELSE 15.0 * 2147483648.0 / kl[16] END) * 100.0) / 100.0
        |  AS est_distinct
        |FROM per LEFT JOIN pk ON pk.day = per.day""".stripMargin),
    QueryDef("st13_stream_sketch", ((s, dir) => {
      // streaming maintenance of a mergeable summary: each micro-batch
      // reduces to its own 256-cell Count-Min sketch, folded into the
      // running sketch by CMS linearity (q88's algebra) in foreachBatch.
      // The final state is bit-equal to sketching the whole corpus at
      // once — micro-batch boundaries cannot show — which is exactly
      // what the oracle computes. State is 256 rows forever: the
      // streaming-friendly alternative to unbounded keyed counts.
      val ev = t(s, dir, "events").select(col("user_id"))
      val tmp = stHalvesFixture(s, dir, "st13", "events") { p =>
        writeHalves(ev, col("user_id") % 2 === 0, p, p)
      }
      var state = graft.operators.Sketches.countMinByGroup(
          ev.limit(0).withColumn("one", lit(0)), "one", "user_id")
        .select("d", "bucket", "cell")
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(tmp.toString)
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bs = graft.operators.Sketches.countMinByGroup(
              batch.withColumn("one", lit(0)), "one", "user_id")
            .select("d", "bucket", "cell")
          // materialize inside the batch; constant-size state each fold,
          // superseded checkpoint released (one state RDD, not per-batch)
          val prev = state
          state = graft.operators.Sketches
            .mergeCountMin(state.unionAll(bs)).localCheckpoint(true)
          graft.FrameRelease.release(prev)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      state
    }),
      """WITH b AS (SELECT user_id, d,
        |('0x' || substr(md5(d::VARCHAR || ':' || user_id::VARCHAR),
        |  1, 8))::BIGINT % 64 AS bucket
        |FROM events CROSS JOIN range(0, 4) r(d))
        |SELECT d, bucket, count(*)::BIGINT AS cell
        |FROM b GROUP BY 1, 2""".stripMargin),
    QueryDef("st12_stream_novelty", ((s, dir) => {
      // streaming ingest gate: arriving document files classify against
      // the EXISTING corpus fingerprint set — a stateless stream-static
      // join on a narrow distinct-md5 projection; each file is one
      // micro-batch (the dd15 incremental-ledger granularity as a
      // Structured Stream). Corpus/batch split is the er5 convention.
      val docs = t(s, dir, "documents")
      val batchDocs = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val tmp = tmpPath("graft-st12")
      val streamDir = tmp.resolve("stream")
      java.nio.file.Files.createDirectories(streamDir)
      Seq(("a", 0), ("b", 1)).foreach { case (n, r) =>
        val sub = tmp.resolve(n).toString
        batchDocs.filter(expr(s"(doc_id div 10) % 2 = $r"))
          .coalesce(1).write.mode("overwrite").parquet(sub)
        val part = new java.io.File(sub).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath,
          streamDir.resolve(s"$n.parquet"))
      }
      val qn = "graft_st12_" + math.abs(dir.hashCode).toString
      withShufflePartitions(s, 8) {
        val q = graft.streaming.DocsStreaming.noveltyStream(
          s, streamDir.toString, corpus, "doc_id", "text", qn)
        q.awaitTermination()
      }
      s.table(qn).select("doc_id", "status")
    }),
      """WITH corpus AS (SELECT DISTINCT md5(text) AS fp FROM documents
        |WHERE doc_id % 10 <> 0),
        |b AS (SELECT doc_id, md5(text) AS fp FROM documents
        |WHERE doc_id % 10 = 0)
        |SELECT b.doc_id, CASE WHEN c.fp IS NOT NULL THEN 'exact_dup'
        |ELSE 'novel' END AS status
        |FROM b LEFT JOIN corpus c ON c.fp = b.fp""".stripMargin),
    QueryDef("st3_stream_dedup", ((s, dir) => {
      // duplicate-laden replay: the same events file arrives as TWO stream
      // batches (maxFilesPerTrigger=1); dropDuplicatesWithinWatermark
      // suppresses every second-batch row — late ones via the watermark,
      // in-horizon ones via dedup state — so the output is each event once
      // r12: the replay pair is built THROUGH Spark (one coalesce(1)
      // write, duplicated byte-for-byte with pinned mtimes) instead of
      // Files.copy of the raw fixture path — the raw copy silently broke
      // on directory-shaped tables (any Spark-written vintage, e.g. the
      // scale probe's derived sf1, where events.parquet is a dir); and
      // it rides the memoized fixture store like the other st replays
      val tmp = stHalvesFixture(s, dir, "st3", "events") { p =>
        val stage = p.resolve("stage")
        t(s, dir, "events").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = Option(stage.toFile.listFiles())
          .flatMap(_.find(_.getName.endsWith(".parquet")))
          .getOrElse(sys.error("st3: staged events write produced no file"))
        Seq(("a", 1700000000000L), ("b", 1700000100000L)).foreach {
          case (n, mt) =>
            java.nio.file.Files.copy(part.toPath, p.resolve(s"$n.parquet"))
            p.resolve(s"$n.parquet").toFile.setLastModified(mt)
        }
        LocalFiles.deleteTree(stage)
      }
      val qn = "graft_st3_" + math.abs(dir.hashCode).toString
      withShufflePartitions(s, 8) {
        val q = EventsStreaming.dedupStream(s, tmp.toString, qn)
        q.awaitTermination()
      }
      s.table(qn).select("event_id", "user_id", "event_type", "value")
    }),
      // the duplicated replay collapses back to each event exactly once
      """SELECT event_id, user_id, event_type, value
        |FROM events""".stripMargin),
    QueryDef("st11_file_sink", ((s, dir) => {
      // exactly-once parquet FILE sink: watermarked append-mode hourly
      // aggregation streamed AvailableNow into a sink whose
      // _spark_metadata commit log defines the committed file set; the
      // query returns the batch READ-BACK of the sink, so the oracle
      // checks exactly the transactionally-committed content (only
      // watermark-proven windows ever land on disk)
      val out = tmpDir("graft_st11_out")
      val ckpt = tmpDir("graft_st11_ck")
      withShufflePartitions(s, 8) {
        val q = EventsStreaming.hourlyFileSink(s, s"$dir/events.parquet",
          out, ckpt)
        q.awaitTermination()
      }
      s.read.parquet(out)
    }),
      """WITH e AS (SELECT ts, event_type, value FROM events
        |WHERE ts IS NOT NULL),
        |wm AS (SELECT epoch_us(max(ts)) // 1000 - 3600000 AS wm_ms FROM e)
        |SELECT date_trunc('hour', ts) AS win_start, event_type,
        |count(*) AS n_events,
        |sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
        |FROM e, wm
        |GROUP BY 1, 2, wm.wm_ms
        |HAVING (epoch_us(win_start) // 1000) + 3600000 <= wm_ms""".stripMargin),
    QueryDef("st2_sliding_window", ((s, dir) =>
      // sliding-window event counts (2h window, 30m hop: each event in
      // exactly 4 windows) — the streaming-compatible window() operator
      // run in batch for the oracle
      EventsStreaming.slidingAgg(t(s, dir, "events"))),
      """SELECT time_bucket(INTERVAL 30 MINUTE, ts::TIMESTAMP)
        |  - to_minutes((30 * k)::BIGINT) AS win_start,
        |event_type, count(*) AS n_events
        |FROM events, range(0, 4) rk(k)
        |GROUP BY 1, 2""".stripMargin)
  )
}
