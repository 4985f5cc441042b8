package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** Typed rows for [[StreamQueries.streamNearDup]]'s LSH-bucket state. */
case class BandRow(doc_id: Long, band: Int, bkey: String)
case class DupHit(doc_id: Long, band: Int, dup_of: Long)

/** Typed rows for [[StreamQueries.streamState]]'s mapGroupsWithState. */
case class StreamEv(user_id: Long, event_id: Long, ts_us: Long)
case class UserRunState(n: Long, sumId: Long, minUs: Long, maxUs: Long)
case class UserRunOut(user_id: Long, n_events: Long, sum_ids: Long,
    first_us: Long, last_us: Long)

/** The §2.10 streaming family's entry into the driver's rows+schema+hash
  * CORRECTNESS gate (previously spec-only by declared design): a query that
  * runs the streaming sessionizer through the FULL Structured-Streaming
  * runtime — file micro-batch source → session_window state store →
  * foreachBatch sink — as a one-shot replay (Trigger.AvailableNow) of the
  * events table, persists the result, and is hash-compared to a DuckDB
  * oracle that re-derives the same sessions from `events` directly. Any
  * drift between the streaming execution mode and the batch/independent
  * semantics (state merge, window coalescing, output timing) breaks the
  * hash — the reference's continuous-arrival presumption
  * (/root/reference/README.md:19) proven equivalent across execution modes.
  */
object StreamQueries {

  /** Run-once memo: (session, fixture dir, query tag) → persisted output
    * path. `computeIfAbsent` gives three properties the previous
    * add-to-a-Set flag lacked (ADVICE r11): concurrent callers BLOCK until
    * the first writer finishes (no read-before-write race), a failed
    * replay records NO mapping (retries re-run instead of reading a
    * missing/partial parquet), and because the work paths embed the
    * sanitized dir, running the same query against two fixture dirs in one
    * JVM (the growth harness's batch pattern) never cross-contaminates —
    * the same discipline as Curation.docCommunities and
    * AffineSketch.minhashCandEst. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), String]()

  private def safe(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Scopes a reduced shuffle/state partition count around a gate
    * replay. At the session default (32), every micro-batch pays 32
    * state-store instances PER stateful operator of checkpoint IO for
    * partitions holding a few hundred rows — pure machinery on these
    * tens-of-thousands-row replays. Batch queries get this right-sizing
    * from AQE; a stream's state partition count is fixed at first start,
    * so it must be chosen — 4 keeps genuine multi-partition semantics
    * coverage (cross-partition shuffles, parallel state commits) at an
    * eighth of the IO (r12 ran 8; the r12 verdict's machinery-diet task
    * re-measured the knob — state-store instance setup/commit dominates
    * these replays, not state volume — and every oracle hash is
    * unchanged; BASELINE.md records the before/after subtotals). r15
    * re-measured 4 vs 2 across the whole 21-query family: summed task
    * time halves again (stream-stream joins keep FOUR state stores per
    * partition per side, so each partition removed saves 8+ instance
    * setups/commits per micro-batch; q_stream_join 27 -> 2.3 task-s) and
    * family wall fell ~20%, with every oracle hash unchanged. 2 is the
    * floor that still exercises genuine multi-partition semantics
    * (cross-partition shuffles, parallel state commits). Results are
    * partitioning-independent (exact aggregates/joins), which the
    * unchanged oracle hashes prove; at production volume the knob goes
    * the other way (more partitions per state size), which is exactly the
    * point: it is a per-stream sizing decision, not a session constant. */
  private def withStreamPartitions[T](s: SparkSession)(body: => T): T =
    graft.Tables.withConf(s, "spark.sql.shuffle.partitions" ->
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "2"))(body)

  /** Runs `body` at most once per (session, dir, tag), handing it a
    * dir-keyed path prefix for its replay/checkpoint/output files; returns
    * the output path `body` yields (conventionally `$prefix.parquet`).
    * The body runs under [[withStreamPartitions]]. */
  private def runOnce(s: SparkSession, dir: String, tag: String)(
      body: String => String): String =
    memo.computeIfAbsent((s, dir, tag),
      _ => withStreamPartitions(s) { body(s"${graft.Tables.workDir(s)}/${tag}_${safe(dir)}") })

  /** Stamps the part files a replay stage just wrote with a strictly
    * increasing synthetic mtime. FileStreamSource orders files by
    * modification time (ms resolution): two stages written within the same
    * millisecond would tie and could flip micro-batch assignment — fatal
    * for the order-SENSITIVE replays (streamLate's watermark cutoff,
    * streamTimer's split), silent for the commutative ones. Stage stamps
    * sit in 2023 (1.7e12 ms), far below any real write time, so "new this
    * stage" is simply "mtime above the stamp range". */
  private def stampStage(replayDir: String, stage: Int): Unit = {
    val d = new java.io.File(replayDir)
    val t = 1700000000000L + stage * 60000L
    for (f <- Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
         if f.getName.startsWith("part-") && f.lastModified() > 1750000000000L)
      f.setLastModified(t)
  }

  /** Streaming 15-min session_window sessionization of the events replay.
    *
    * Complete output mode: a FINITE replay's final micro-batch rewrites
    * the whole session state, so no tail session is withheld waiting for a
    * watermark that will never advance (the append-mode pitfall on bounded
    * input); each foreachBatch overwrite leaves the last — complete —
    * state as the persisted result. On an unbounded stream the same
    * aggregation runs in append mode with a watermark and bounded state
    * ([[StreamSessions.sessionize]], spec-pinned batch≡stream); THIS query
    * pins the semantics against an independent engine. `collect_set` size
    * (exact, order-insensitive) stands in for count(DISTINCT), which
    * streaming aggregation does not support; item sets here are bounded by
    * the event-type alphabet, never corpus-proportional. */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_sessions") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      graft.Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
        .write.mode("overwrite").parquet(replay)
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("user_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .parquet(replay)
      val sess = src
        .groupBy(col("user_id"), session_window(col("ts"), "15 minutes"))
        .agg(
          min(unix_micros(col("ts"))).as("session_start_us"),
          max(unix_micros(col("ts"))).as("session_end_us"),
          count(lit(1)).as("hit_count"),
          size(collect_set(col("event_type"))).cast("long").as("unique_types"))
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("hit_count"), col("unique_types"))
      val q = sess.writeStream
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.coalesce(1).write.mode("overwrite").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out).orderBy(col("user_id"), col("session_start_us"))
  }

  /** Streaming enrichment: stream–static inner join (the OTHER core
    * streaming surface next to stateful aggregation — the dimension is a
    * plain batch DataFrame broadcast into every micro-batch) of the events
    * replay against the customer dim, then a tumbling 1-hour windowed
    * aggregation per (nation, event_type). Complete output mode for the
    * same bounded-replay reason as [[streamSessionize]]; everything here
    * is arrival-order-insensitive (inner join + commutative aggregates),
    * so the result is deterministic regardless of micro-batch slicing and
    * hash-comparable to a DuckDB oracle that re-derives it relationally.
    * At scale the static side is the classic broadcast dim; the stream
    * side shuffles once on the (nation, window, type) grain. */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_enrich") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      graft.Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
        .write.mode("overwrite").parquet(replay)
      val dim = graft.Tables(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_nationkey").cast("long").as("nation"))
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("user_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .parquet(replay)
      val agg = src.join(dim, "user_id")
        .groupBy(col("nation"), window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"))
        .select(col("nation"), unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("n_events"), col("first_us"), col("last_us"))
      val q = agg.writeStream
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.coalesce(1).write.mode("overwrite").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out)
      .orderBy(col("nation"), col("window_us"), col("event_type"))
  }

  /** Streaming exactly-once ingestion dedup: at-least-once delivery (every
    * third event delivered TWICE, the second copy in a separate file so
    * `maxFilesPerTrigger=1` lands it in a LATER micro-batch) pushed through
    * `dropDuplicates(event_id)`'s key state store in append mode — each key
    * is emitted exactly once across ALL micro-batches, so the union of the
    * per-batch appends is the duplicate-free relation regardless of batch
    * slicing. The cross-batch arrival is the point: the second copy only
    * disappears if the state store remembered the first batch's keys.
    * Kafka-consumer at-least-once → exactly-once, the standard ingestion
    * front door for every pipeline in this repo.
    *
    * The persisted event-grain relation is compacted to a per-type summary
    * of exact integer sums — any lost or double-emitted row breaks
    * count/sum/min/max vs the DuckDB oracle, which reads the ORIGINAL
    * events table (dedup must restore it exactly). Unbounded key state is
    * the documented bounded-replay trade: on an unbounded stream the same
    * query runs `dropDuplicatesWithinWatermark` with state eviction
    * ([[StreamSessions]] spec family). */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_dedup") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      ev.coalesce(1).write.mode("overwrite").parquet(replay)
      stampStage(replay, 0)
      ev.filter(col("event_id") % 3 === 0)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 1)
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
      val q = src.dropDuplicates("event_id").writeStream
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("sum_ids"),
        sum(col("user_id")).as("sum_users"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  /** Stream–stream interval inner join through the real join state store:
    * views and purchases arrive in SEPARATE micro-batches (views file
    * written first, purchases second, `maxFilesPerTrigger=1`), so every
    * emitted pair requires the view side to have been buffered in join
    * state from batch 0 and matched by a purchase arriving in batch 1 —
    * the cross-batch buffering IS the operator. Both sides carry
    * watermarks (45 days, beyond the 30-day data span, so no state row is
    * evicted and no input is late — the bounded-replay determinism trade,
    * same discipline as [[streamDedup]]'s unbounded key state); on an
    * unbounded stream the identical plan evicts buffered rows once the
    * 6-hour join range falls behind the watermark. Inner joins emit each
    * matched pair exactly once regardless of batch slicing, so the
    * append-mode union is the full interval join, hash-comparable to a
    * DuckDB self-join over `events`. */
  def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_join") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      ev.filter(col("event_type") === "view")
        .coalesce(1).write.mode("overwrite").parquet(replay)
      stampStage(replay, 0)
      ev.filter(col("event_type") === "purchase")
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 1)
      def src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
      val views = src.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("view_ts"))
        .withWatermark("view_ts", "45 days")
      val buys = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
          col("ts").as("buy_ts"))
        .withWatermark("buy_ts", "45 days")
      val pairs = views.join(buys,
          col("user_id") === col("buy_user") &&
            col("buy_ts") >= col("view_ts") &&
            col("buy_ts") <= col("view_ts") + expr("INTERVAL 6 HOURS"))
        .select(col("user_id"), col("view_id"), col("buy_id"),
          unix_micros(col("view_ts")).as("view_us"),
          unix_micros(col("buy_ts")).as("buy_us"))
      val q = pairs.writeStream
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out)
      .orderBy(col("user_id"), col("view_id"), col("buy_id"))
  }

  /** Watermark late-data semantics under the hash oracle: every fifth
    * event arrives in the replay's THIRD micro-batch, after the watermark
    * that will judge it has been established by batch 0 — Spark filters a
    * batch's late rows against the watermark of the PREVIOUS micro-batch
    * (`WatermarkSupport.watermarkPredicateForDataForLateEvents`,
    * SPARK-40925: the current batch's advanced watermark is used only for
    * state eviction), and the watermark carried into batch N is computed
    * from batches < N. Hence the 3-batch shape: batch 0 (on-time rows with
    * even event_id, whose max ts − 6 h becomes the cutoff), batch 1
    * (remaining on-time rows, judged against watermark 0), batch 2 (the
    * late file, judged against batch 0's cutoff — a late row reaches the
    * aggregation only if its 1-hour window still ends beyond it). Update
    * mode emits each changed window per batch; tagging emissions with the
    * micro-batch id and keeping the LAST version per (window, type)
    * reconstructs the final state. The DuckDB oracle re-derives the
    * accepted set relationally — on-time rows plus late rows whose window
    * end exceeds the same ms-truncated cutoff (watermarks are millisecond
    * values; window ends are hour-aligned and the cutoff is not, so the
    * </ ≤ boundary cannot be hit) — pinning the drop boundary itself
    * against an engine with no watermark concept. */
  def streamLate(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_late") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"))
      val onTime = ev.filter(col("event_id") % 5 =!= 0)
      onTime.filter(col("event_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(replay)
      stampStage(replay, 0)
      onTime.filter(col("event_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 1)
      ev.filter(col("event_id") % 5 === 0)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 2)
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
      val agg = src.withWatermark("ts", "6 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("sum_ids"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("n_events"), col("sum_ids"),
          col("min_id"), col("max_id"))
      val q = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          batch.withColumn("batch_id", lit(bid))
            .write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_us"), col("event_type"))
      .orderBy(col("batch_id").desc)
    s.read.parquet(out)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("window_us"), col("event_type"), col("n_events"),
        col("sum_ids"), col("min_id"), col("max_id"))
      .orderBy(col("window_us"), col("event_type"))
  }

  /** Arbitrary stateful processing (`mapGroupsWithState`) under the hash
    * oracle: per-user running (count, Σid, min/max µs) accumulated across
    * THREE micro-batches (`event_id mod 3` split, `maxFilesPerTrigger=1`)
    * — a user seen in several batches must fold new rows into the state
    * store's carried value; any lost or re-initialized state breaks the
    * exact integer sums vs the oracle's plain GROUP BY over `events`.
    * Update-mode emissions are batch-tagged and compacted to the last
    * version per user (same discipline as [[streamLate]]). Fold order
    * within a batch is irrelevant: every accumulator is commutative. */
  def streamState(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_state") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      ev.filter(col("event_id") % 3 === 0)
        .coalesce(1).write.mode("overwrite").parquet(replay)
      stampStage(replay, 0)
      ev.filter(col("event_id") % 3 === 1)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 1)
      ev.filter(col("event_id") % 3 === 2)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 2)
      import s.implicits._
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("ts", TimestampType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .as[StreamEv]
      val updated = src.groupByKey(_.user_id)
        .mapGroupsWithState[UserRunState, UserRunOut](
          GroupStateTimeout.NoTimeout) { (uid, evs, state) =>
          val st = evs.foldLeft(state.getOption.getOrElse(
            UserRunState(0L, 0L, Long.MaxValue, Long.MinValue))) { (a, e) =>
            UserRunState(a.n + 1, a.sumId + e.event_id,
              math.min(a.minUs, e.ts_us), math.max(a.maxUs, e.ts_us))
          }
          state.update(st)
          UserRunOut(uid, st.n, st.sumId, st.minUs, st.maxUs)
        }
      val q = updated.toDF().writeStream
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          batch.withColumn("batch_id", lit(bid))
            .write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("batch_id").desc)
    s.read.parquet(out)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("sum_ids"),
        col("first_us"), col("last_us"))
      .orderBy(col("user_id"))
  }

  /** `transformWithState` (Spark 4's arbitrary-state successor to
    * mapGroupsWithState) under the hash oracle, on its required RocksDB
    * state store: [[TypeCounts.dominantType]]'s per-user MapState counts
    * accumulate across THREE micro-batches (`event_id mod 3` split), each
    * batch emitting the user's current dominant event type — point
    * MapState reads/writes against RocksDB, exactly the at-scale profile
    * store shape. The last emission per user must equal the relational
    * argmax (count DESC, type ASC) DuckDB re-derives from `events`; a
    * single lost or double-counted MapState update flips a dominant type
    * and breaks the hash. The provider override is scoped to this query's
    * start (queries read the conf at start) and restored after. */
  def streamTypedState(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_tws") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      ev.filter(col("event_id") % 3 === 0)
        .coalesce(1).write.mode("overwrite").parquet(replay)
      stampStage(replay, 0)
      ev.filter(col("event_id") % 3 === 1)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 1)
      ev.filter(col("event_id") % 3 === 2)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 2)
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        import s.implicits._
        val src = s.readStream
          .schema(StructType(Seq(
            StructField("event_id", LongType),
            StructField("user_id", LongType),
            StructField("event_type", StringType))))
          .option("maxFilesPerTrigger", 1)
          .parquet(replay)
          .select(col("user_id"), col("event_type")).as[(Long, String)]
        val q = TypeCounts.dominantType(src).toDF().writeStream
          .outputMode("update")
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            batch.withColumn("batch_id", lit(bid))
              .write.mode("append").parquet(out)
          }
          .start()
        q.awaitTermination()
      } finally {
        prev match {
          case Some(p) => s.conf.set(key, p)
          case None    => s.conf.unset(key)
        }
      }
      out
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("batch_id").desc)
    s.read.parquet(out)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("top_type"), col("n"))
      .orderBy(col("user_id"))
  }

  /** Event-time TIMERS ([[SessionCloser]], `TimeMode.EventTime`) under the
    * hash oracle — the last transformWithState surface (ValueState/
    * ListState/MapState are gate-proven above): the replay is split at
    * 2024-01-21 into two micro-batches, so the watermark established by
    * batch 0 fires the timers of users idle in batch 1, and the final
    * no-data micro-batch (watermark advanced to the stream's end) fires
    * the rest; a user whose last hit is within the 15-minute gap of the
    * stream's maximum event time never closes (timer still armed at
    * shutdown — the append-mode withheld-tail trade, here made exact).
    * Input rows are processed BEFORE expired timers within a batch
    * (pinned by [[StreamingSpec]]), so a user active in batch 1 re-arms
    * its timer past batch 0's watermark and closes exactly once, with its
    * FULL hit count. The DuckDB oracle re-derives the closed set and both
    * emitted values (close_at = ms-truncated last hit + gap, n_hits)
    * relationally from `events` and the same split constant. */
  def streamTimer(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_timer") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("user_id"), col("ts"))
      val split = lit("2024-01-21").cast("timestamp")
      ev.filter(col("ts") < split)
        .coalesce(1).write.mode("overwrite").parquet(replay)
      stampStage(replay, 0)
      ev.filter(col("ts") >= split)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 1)
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        import s.implicits._
        val src = s.readStream
          .schema(StructType(Seq(
            StructField("user_id", LongType),
            StructField("ts", TimestampType))))
          .option("maxFilesPerTrigger", 1)
          .parquet(replay)
          .as[(Long, java.sql.Timestamp)]
        val q = SessionCloser.closedSessions(src, gapMs = 900000L)
          .toDF().writeStream
          .outputMode("append")
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(out)
          }
          .start()
        q.awaitTermination()
      } finally {
        prev match {
          case Some(p) => s.conf.set(key, p)
          case None    => s.conf.unset(key)
        }
      }
      out
    }
    s.read.parquet(out)
      .select(col("user_id"), col("close_at_ms"), col("n_hits"))
      .orderBy(col("user_id"), col("close_at_ms"))
  }

  /** Streaming CDC apply under the hash oracle: a change stream (every
    * event is an upsert to its user's profile) delivered across three
    * micro-batches in NON-time order (`event_id mod 3` split), merged by
    * `foreachBatch` into a versioned key-state table with last-write-wins
    * on (ts, event_id) — the MERGE INTO shape every lakehouse sink runs.
    * Since r14 the versioned state lives in a
    * [[graft.sources.SnapshotTable]] (the r13 verdict's integration gap:
    * this query kept its own ad-hoc version directories next to the ACID
    * table that owns the commit path): each batch is one OCC `transact`
    * that rewrites the merged key-state — readers of version N stay
    * isolated from the N+1 commit, every intermediate state remains
    * time-travelable, and a retried batch re-merges IDEMPOTENTLY
    * (last-write-wins on (ts, event_id) makes re-applying the same
    * changes a no-op, so at-least-once delivery needs no txn tag here —
    * contrast [[streamSnapshot]], whose blind appends DO need one).
    * Because the merge compares (ts, event_id) rather than trusting
    * arrival order, the final state is independent of batch slicing; the
    * DuckDB oracle re-derives it as the relational argmax per user. */
  def streamCdc(s: SparkSession, dir: String): DataFrame = {
    val table = runOnce(s, dir, "stream_cdc") { p =>
      val table = s"${p}_table"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
      ev.filter(col("event_id") % 3 === 0)
        .coalesce(1).write.mode("overwrite").parquet(replay)
      stampStage(replay, 0)
      ev.filter(col("event_id") % 3 === 1)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 1)
      ev.filter(col("event_id") % 3 === 2)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 2)
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
      val q = src.writeStream
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val changes = batch
            .select(col("user_id"), unix_micros(col("ts")).as("last_us"),
              col("event_id").as("last_event_id"), col("event_type"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("last_us").desc, col("last_event_id").desc)
          graft.sources.SnapshotTable.transact(
            batch.sparkSession, table, s"cdc-merge-b$bid") { cur =>
            cur.map(_.unionByName(changes)).getOrElse(changes)
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1).drop("rn")
          }
          ()
        }
        .start()
      q.awaitTermination()
      table
    }
    graft.sources.SnapshotTable.read(s, table)
      .select(col("user_id"), col("last_us"), col("last_event_id"),
        col("event_type"))
      .orderBy(col("user_id"))
  }

  /** Streaming ingestion into the ACID snapshot table, exactly once,
    * under the hash oracle (r13 verdict task 1 — the two flagship
    * surfaces finally meet: [[streamCdc]] owns its own ad-hoc version
    * directories, while a real lake user's first workload is
    * "stream → ACID table"). A 3-shard events replay
    * (`maxFilesPerTrigger=1` ⇒ 3 micro-batches) drains through a
    * `foreachBatch` sink whose ONLY action is
    * [[graft.sources.SnapshotTable.appendOnce]] with the Delta txn-action
    * identity `"<tag>:<batchId>"` — each micro-batch becomes one OCC
    * commit, invisible until its manifest lands. The sink then calls
    * appendOnce a SECOND time with the same txn, the at-least-once
    * redelivery every crash-restart produces: the replay MUST be
    * swallowed as a no-op, and the emitted `n_versions` column (pinned
    * to 3 by the oracle) rides the hash — a double-applied batch breaks
    * the gate with BOTH a version count of 4+ and doubled aggregates.
    * The kill-mid-drain restart (same contract under a real failure,
    * not a simulated redelivery) is SnapshotSinkSpec's half. */
  def streamSnapshot(s: SparkSession, dir: String): DataFrame = {
    val table = runOnce(s, dir, "stream_snapshot") { p =>
      val table = s"${p}_table"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
      (0 to 2).foreach { k =>
        ev.filter(col("event_id") % 3 === k)
          .coalesce(1)
          .write.mode(if (k == 0) "overwrite" else "append").parquet(replay)
        stampStage(replay, k)
      }
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
      val q = src.writeStream
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val rows = batch.select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_type"))
          graft.sources.SnapshotTable.appendOnce(
            batch.sparkSession, table, rows, txn = s"qss:$bid")
          // the at-least-once redelivery, exercised IN the gate: a
          // second commit of the same txn must be a no-op
          graft.sources.SnapshotTable.appendOnce(
            batch.sparkSession, table, rows, txn = s"qss:$bid")
          ()
        }
        .start()
      q.awaitTermination()
      table
    }
    graft.sources.SnapshotTable.read(s, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("sum_ids"),
        sum(col("user_id")).as("sum_users"),
        min(col("ts_us")).as("min_us"),
        max(col("ts_us")).as("max_us"))
      .withColumn("n_versions",
        lit(graft.sources.SnapshotTable.latestVersion(table)))
      .orderBy(col("event_type"))
  }

  /** STREAMING near-dup dedup — the LLM-pipeline dedup family carried to
    * the arrival-time surface (batch MinHash+LSH dedup scans the corpus;
    * a production ingest wants each document checked against everything
    * that ALREADY arrived, online). The corpus's 8×4 affine LSH bucket
    * relation ([[graft.ops.AffineSketch.bandedKeys]] — same committed
    * constants as the hash-oracled batch twins) replays in doc_id order
    * over three micro-batches; `flatMapGroupsWithState` keyed by
    * (band, bkey) holds ONE Long per bucket — the smallest doc_id ever
    * seen there — and emits a hit whenever a document lands in a bucket
    * with an earlier occupant. Within a batch the group iterator is
    * sorted by doc_id, so "earlier" is exactly "smaller id" regardless
    * of micro-batch slicing, and the whole emission is deterministic:
    * per (doc, band) the hit's `dup_of` is the minimum earlier sharer,
    * which DuckDB re-derives with a plain banded self-join — the
    * streaming execution mode proven ≡ the declarative definition.
    *
    * 100 TB shape: state is one int64 per DISTINCT bucket (bounded by
    * corpus size / band selectivity, never pair count), lookups are
    * keyed state-store reads — no join, no shuffle beyond the bucket
    * hash partitioning. An unbounded ingest bounds state with a bucket
    * TTL (`GroupStateTimeout.ProcessingTimeTimeout`) — dedup then only
    * sees a rolling horizon, the standard trade; the finite replay here
    * keeps NoTimeout so the oracle can express the full semantics. */
  def streamNearDup(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_neardup") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val banded = graft.ops.AffineSketch.bandedKeys(s, dir)
      val mx = banded.agg(max(col("doc_id"))).head().getLong(0)
      // id-ordered arrival: three stages by doc_id range (stamped so
      // FileStreamSource's mtime order can never tie), maxFilesPerTrigger=1
      Seq(col("doc_id") <= mx / 3,
        col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3,
        col("doc_id") > 2 * mx / 3).zipWithIndex.foreach { case (pred, k) =>
        banded.filter(pred).coalesce(1)
          .write.mode(if (k == 0) "overwrite" else "append").parquet(replay)
        stampStage(replay, k)
      }
      import s.implicits._
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("band", org.apache.spark.sql.types.IntegerType),
          StructField("bkey", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
        .as[BandRow]
      val hits = src.groupByKey(r => (r.band, r.bkey))
        .flatMapGroupsWithState[Long, DupHit](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          GroupStateTimeout.NoTimeout) { (_, rows, state) =>
          var minSoFar = state.getOption.getOrElse(Long.MaxValue)
          val emitted = rows.toSeq.sortBy(_.doc_id).flatMap { r =>
            val hit = if (minSoFar < r.doc_id)
              Some(DupHit(r.doc_id, r.band, minSoFar)) else None
            if (r.doc_id < minSoFar) minSoFar = r.doc_id
            hit
          }
          state.update(minSoFar)
          emitted.iterator
        }
      val q = hits.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out)
      .groupBy(col("doc_id"))
      .agg(min(col("dup_of")).as("dup_of"),
        count(lit(1)).cast("int").as("n_dup_bands"))
      .orderBy(col("doc_id"))
  }

  /** The snapshot table as a streaming SOURCE under the hash oracle
    * ([[graft.sources.SnapshotStreamProvider]] — the Delta-source shape
    * closing the lake loop: [[streamSnapshot]] streams INTO the table,
    * this streams OUT of it; commit versions are the offsets and each
    * micro-batch reads exactly the file-groups its version range added,
    * cost ∝ the increment). Three deterministic appends build the
    * table; a complete-mode streaming aggregate drains them under
    * Trigger.AvailableNow; then a FOURTH append lands and the SAME
    * stream restarts on its checkpoint. The resumed run must deliver
    * version 4 ALONE: the complete-mode state already holds v1–v3's
    * rows, so reprocessing any of them doubles sums and breaks the
    * hash, while a missed v4 shrinks them — the checkpointed version
    * offset is exactly-once across the restart, proven by arithmetic
    * rather than assertion. `n_versions` (oracle-pinned 4) rides the
    * hash. Delete/rewrite commit POLICY (fail loudly by default;
    * ignoreDeletes/ignoreChanges opt-outs) is SnapshotStreamSpec's
    * half — policy errors are not oracle-expressible. */
  def streamTableRead(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_tableread") { p =>
      val table = s"${p}_table"
      val chk = s"${p}_chk"
      val out = s"$p.parquet"
      def orders = graft.Tables(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      def runStream(): Unit = {
        val src = s.readStream
          .format(classOf[graft.sources.SnapshotStreamProvider].getName)
          .option("path", table)
          .load()
        val agg = src.groupBy((col("k") % 8).as("bucket"))
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        val q = agg.writeStream
          .outputMode("complete")
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.coalesce(1).write.mode("overwrite").parquet(out)
          }
          .start()
        q.awaitTermination()
      }
      (0 to 2).foreach { r =>
        graft.sources.SnapshotTable.append(s, table,
          orders.filter(col("k") % 3 === r))
        ()
      }
      runStream()
      graft.sources.SnapshotTable.append(s, table,
        orders.filter(col("k") % 5 === 0)
          .select(col("k"), (col("cents") + 7000).as("cents")))
      runStream()
      out
    }
    val table = s"${out.stripSuffix(".parquet")}_table"
    s.read.parquet(out)
      .withColumn("n_versions",
        lit(graft.sources.SnapshotTable.latestVersion(table)))
      .orderBy(col("bucket"))
  }

  /** STREAMING change-data-feed read under the hash oracle — the
    * snapshot source's `readChangeFeed` mode renders the commit log as
    * row-level change events: appends become `insert` rows, a tombstone
    * commit becomes `delete` rows carrying the full BEFORE-image
    * (tombstone keys semi-joined against the predecessor snapshot), and
    * an [[graft.sources.SnapshotTable.updateWhere]] commit renders as
    * its delete + insert pair — the standard CDF reduction of an
    * update. The fixture walks the full DML lifecycle (CREATE, DELETE,
    * re-insert APPEND, row-level UPDATE); the drained feed aggregates
    * per (_commit_version, _change_type, src), so the oracle's
    * relational replay of all four commits pins every change row's
    * version tag, polarity, and payload — a CDF that missed a
    * before-image, mis-versioned a change, or leaked a rewrite breaks
    * the hash. */
  def streamCdfRead(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_cdfread") { p =>
      val table = s"${p}_table"
      val chk = s"${p}_chk"
      val out = s"$p.parquet"
      def dbase = graft.Tables(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"),
          lit("base").as("src"))
      def reins = dbase.filter(col("cust") % 10 === 0 && col("k") % 3 === 0)
        .select(col("k"), col("cust"), (col("cents") + 3000).as("cents"),
          lit("r1").as("src"))
      graft.sources.SnapshotTable.append(s, table, dbase)
      graft.sources.SnapshotTable.deleteWhere(s, table,
        dbase.filter(col("cust") % 10 === 0).select(col("k")), "k")
      graft.sources.SnapshotTable.append(s, table, reins)
      graft.sources.SnapshotTable.updateWhere(s, table, "k",
        col("cust") % 7 === 0, Map("cents" -> (col("cents") + 5000)))
      val src = s.readStream
        .format(classOf[graft.sources.SnapshotStreamProvider].getName)
        .option("path", table)
        .option("readChangeFeed", "true")
        .load()
      val q = src.writeStream
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out)
      .groupBy(col("_commit_version"), col("_change_type"), col("src"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("_commit_version"), col("_change_type"), col("src"))
  }

  /** The full MEDALLION pipeline in one exactly-once sink — where
    * [[streamSnapshot]] (stream → bronze) and the incremental
    * materialized view (`q_snapshot_mview`) MEET: each micro-batch
    * commits (a) the raw rows into the BRONZE snapshot table via
    * txn-tagged `appendOnce` and (b) the batch's aggregate delta into
    * the SILVER table via txn-tagged `transactOnce` — two tables, one
    * batch identity, exactly once each. The cross-table failure mode is
    * exercised IN the gate: for batch 1 the sink "crashes" between the
    * two commits (bronze lands, silver does not), then the unconditional
    * full-pair replay — the at-least-once redelivery every restart
    * produces — must heal it: bronze swallows (required None), silver
    * applies exactly once (required Some for the healed batch, None for
    * the rest). There is no cross-table transaction and none is needed:
    * per-table idempotence keys make the PAIR effectively atomic under
    * replay, the production medallion contract. `n_bronze_versions` and
    * `n_silver_versions` (3 each, oracle-pinned) ride the hash, and the
    * silver state hash-matches DuckDB's direct one-shot aggregate of the
    * whole replay — no increment lost, none double-applied, through a
    * simulated partial failure. */
  def streamMedallion(s: SparkSession, dir: String): DataFrame = {
    val silver = runOnce(s, dir, "stream_medallion") { p =>
      val bronze = s"${p}_bronze"
      val silver = s"${p}_silver"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      (0 to 2).foreach { k =>
        ev.filter(col("event_id") % 3 === k)
          .coalesce(1)
          .write.mode(if (k == 0) "overwrite" else "append").parquet(replay)
        stampStage(replay, k)
      }
      def silverApply(sp: SparkSession, rows: DataFrame,
          bid: Long): Option[Int] =
        graft.sources.SnapshotTable.transactOnce(
          sp, silver, s"silver-$bid", s"meds:$bid") { cur =>
          val delta = rows.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("event_id")).as("sum_ids"),
              sum(col("user_id")).as("sum_users"))
          cur.fold(delta)(_.unionByName(delta)
            .groupBy(col("event_type"))
            .agg(sum(col("n_events")).as("n_events"),
              sum(col("sum_ids")).as("sum_ids"),
              sum(col("sum_users")).as("sum_users")))
        }
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
      val q = src.writeStream
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val sp = batch.sparkSession
          val rows = batch.select(col("event_id"), col("user_id"),
            col("event_type"))
          graft.sources.SnapshotTable.appendOnce(
            sp, bronze, rows, txn = s"medb:$bid")
          // batch 1 "crashes" between the bronze and silver commits
          if (bid != 1L) { silverApply(sp, rows, bid); () }
          // the at-least-once redelivery of the WHOLE pair
          val b2 = graft.sources.SnapshotTable.appendOnce(
            sp, bronze, rows, txn = s"medb:$bid")
          require(b2.isEmpty, s"bronze replay of batch $bid double-applied")
          val s2 = silverApply(sp, rows, bid)
          if (bid == 1L)
            require(s2.nonEmpty, "replay failed to heal the crashed silver commit")
          else
            require(s2.isEmpty, s"silver replay of batch $bid double-applied")
          ()
        }
        .start()
      q.awaitTermination()
      // the gate also pins bronze content ≡ Σ increments: silver is
      // re-derivable from bronze, and both versions counts ride the hash
      s"$bronze|$silver"
    }
    val Array(bronzeT, silverT) = silver.split('|')
    graft.sources.SnapshotTable.read(s, silverT)
      .withColumn("n_bronze_versions",
        lit(graft.sources.SnapshotTable.latestVersion(bronzeT)))
      .withColumn("n_silver_versions",
        lit(graft.sources.SnapshotTable.latestVersion(silverT)))
      .orderBy(col("event_type"))
  }

  /** The custom DSv2 MicroBatchStream
    * ([[graft.sources.EventsSource]]) under the hash oracle — the last
    * spec-only streaming surface: a 20,000-id space drained through the
    * source's admission control (`SupportsAdmissionControl`,
    * `rowsPerBatch=4000` ⇒ 5 rate-limited micro-batches, the
    * Kafka-style offset bookkeeping), aggregated per event_type across
    * ALL batches by the streaming state store. Every measure is exact
    * integer arithmetic on the row id (cents re-derived as
    * (id·7919) mod 10⁴ rather than `value·100` — the ×100 float
    * round-trip is not exact); the DuckDB oracle re-derives the whole
    * relation from `generate_series` and the source's published
    * Knuth-scatter formulas — the generator contract itself is what the
    * hash pins. `dir` is unused: the source is synthetic by design. */
  def streamV2Source(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_v2src") { p =>
      val out = s"$p.parquet"
      val chk = s"${p}_chk"
      // rowsPerBatch 4000 ⇒ 5 admission-controlled micro-batches: enough
      // to prove the rate-limited drain (SourcesV2Spec separately pins
      // ≥5 batches at 1000), and 4× cheaper than the former 20-batch
      // shape — per-batch cost here is complete-mode state + checkpoint +
      // parquet machinery, not data volume (solo 34.7 s → ~10 s)
      val src = s.readStream.format("graft.sources.EventsSource")
        .option("rows", 20000L).option("partitions", 8)
        .option("rowsPerBatch", 4000L).load()
      val agg = src
        .withColumn("cents", (col("event_id") * 7919L) % 10000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("sum_ids"),
          sum(col("user_id")).as("sum_users"),
          sum(col("cents")).as("sum_cents"),
          min(col("ts_us")).as("min_us"),
          max(col("ts_us")).as("max_us"))
      // Trigger.AvailableNow is honored natively since EventsSource
      // implements SupportsTriggerAvailableNow (prepare snapshots the end
      // offset; each trigger drains one rate-limited batch toward it) —
      // the properly bounded drain, replacing the round-11
      // processAllAvailable workaround with an unchanged result hash
      val q = agg.writeStream
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.coalesce(1).write.mode("overwrite").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out).orderBy(col("event_type"))
  }

  /** SLIDING (overlapping) windows through the streaming state store —
    * the remaining windowing shape next to tumbling ([[streamEnrich]])
    * and session ([[streamSessionize]]): every event lands in FOUR
    * 2-hour/30-minute-slide windows, so the state-store row expansion
    * (one row per (window, type)) and the per-window re-aggregation are
    * what the hash pins. Complete output mode on the bounded replay
    * (arrival-order-insensitive aggregates ⇒ deterministic under any
    * batch slicing); the DuckDB oracle re-derives the 4-way expansion
    * relationally as events × generate_series(0,3) with the same
    * epoch-aligned window starts (session TZ is UTC, so Spark's window
    * alignment is epoch arithmetic). */
  def streamSliding(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_sliding") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      graft.Tables(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(replay)
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .parquet(replay)
      val agg = src
        .groupBy(window(col("ts"), "2 hours", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("sum_ids"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("n_events"), col("sum_ids"),
          col("min_id"), col("max_id"))
      val q = agg.writeStream
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.coalesce(1).write.mode("overwrite").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out).orderBy(col("window_us"), col("event_type"))
  }

  /** Streaming RESTART-RECOVERY under the hash oracle — the failure half
    * of exactly-once that run-to-completion queries never exercise: a
    * checkpointed per-user aggregation over a 4-shard replay
    * (`maxFilesPerTrigger=1`) is STOPPED as soon as its first micro-batch
    * commits (`StreamingQuery.stop()` mid-drain — possibly mid-batch, the
    * interruption a real failure produces), two more shards arrive while
    * it is down, and a SECOND query instance restarts from the same
    * checkpoint and drains to completion. The final complete-mode state
    * equals the relational aggregate over ALL events only if recovery was
    * exact on both logs: a lost/rewound offset log re-reads a processed
    * shard and double-counts (complete mode folds it into recovered
    * state); a lost state store drops the pre-stop shards and
    * undercounts; an uncommitted-but-written batch must replay
    * deterministically onto its pre-batch state version. Every measure is
    * a commutative exact integer, so the result is invariant to WHERE the
    * stop landed — the hash pins recovery, not timing. The deterministic
    * two-phase variant (exact batch counts across the restart) is pinned
    * in StreamingSpec. */
  def streamResume(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_resume") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"))
      def shard(k: Int): Unit = {
        ev.filter(col("event_id") % 4 === k)
          .coalesce(1)
          .write.mode(if (k == 0) "overwrite" else "append").parquet(replay)
        stampStage(replay, k)
      }
      (0 to 1).foreach(shard)
      def start() = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("sum_ids"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.coalesce(1).write.mode("overwrite").parquet(out)
        }
        .start()
      val q1 = start()
      // interrupt mid-drain: stop the moment the first batch has committed
      // (AvailableNow bounds the race — if the drain outruns the poll, q1
      // simply terminated and the appended shards below still force q2 to
      // resume against the checkpointed state)
      while (q1.isActive && q1.lastProgress == null) Thread.sleep(25)
      q1.stop()
      q1.awaitTermination()
      (2 to 3).foreach(shard)
      val q2 = start()
      q2.awaitTermination()
      out
    }
    s.read.parquet(out).orderBy(col("user_id"))
  }

  /** `dropDuplicatesWithinWatermark` under the hash oracle — the
    * BOUNDED-STATE dedup ([[streamDedup]]'s production variant: key state
    * is EVICTED once the watermark passes event time + delay, so state ∝
    * the watermark window, never stream length). The replay makes both
    * halves of its correctness argument bite: batch 1 re-delivers the
    * stream's TAIL (ts ≥ max − 6 d — inside the 7-day window, so the
    * retained state must drop them as duplicates), batch 2 re-delivers
    * OLD rows (ts < max − 8 d — behind batch 0's watermark, so the LATE
    * filter must drop them; without it, keys already evicted from state
    * would re-emit and break the hash). Either failure mode double-emits
    * and breaks the exact integer sums vs a DuckDB oracle that reads the
    * ORIGINAL events relation. */
  def streamDedupWm(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_dedup_wm") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val d6 = maxUs - 6L * 86400L * 1000000L
      val d8 = maxUs - 8L * 86400L * 1000000L
      ev.coalesce(1).write.mode("overwrite").parquet(replay)
      stampStage(replay, 0)
      ev.filter(unix_micros(col("ts")) >= d6)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 1)
      ev.filter(unix_micros(col("ts")) < d8)
        .coalesce(1).write.mode("append").parquet(replay)
      stampStage(replay, 2)
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
      val q = src.withWatermark("ts", "7 days")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out)
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(7L * 86400L * 1000000L))
          .as("wk"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("sum_ids"),
        sum(col("user_id")).as("sum_users"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"), col("wk"))
  }

  /** LEFT-OUTER stream–stream interval join under the hash oracle — the
    * semantics outer streaming joins exist for (funnel drop-off feeds):
    * an unmatched view emits its null-click row ONLY once the watermark
    * proves no matching purchase can still arrive (wm > view_ts + 6 h).
    * The replay arrives as TIME-ORDERED micro-batches (the time range
    * cut into 3 equal slices) with BOTH event types interleaved — that
    * is what makes the query well-posed: each batch's rows are strictly
    * newer than everything before, so nothing is ever late-dropped (any
    * positive delay), while the watermark genuinely advances slice by
    * slice and evicts+emits unmatched views progressively (the
    * 45-day-watermark trick [[streamJoin]] uses to AVOID eviction would
    * here emit zero outer rows). The RESULT is slice-count-independent —
    * the emission set is determined by the FINAL watermark alone, so the
    * batch granularity is a free operational knob (a span-proportional
    * weekly split was measured at 10× growing with batch COUNT, pure
    * machinery; the fixed split measures the operator). The DuckDB
    * oracle re-derives both halves relationally: the interval inner
    * join, plus NOT-EXISTS views whose 6-hour horizon lies strictly
    * below the final global watermark — min over both sides of
    * (ms-truncated max event time) minus the 24-hour delay; views
    * inside that tail are provably WITHHELD (the append-mode outer-join
    * contract, here made exact). */
  def streamOuter(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_outer") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
        .filter(col("event_type").isin("view", "purchase"))
      val Array(loUs, hiUs) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val width = (hiUs - loUs) / 3L + 1L
      val sliced = ev.withColumn("sl",
        least(lit(2L), expr(s"(unix_micros(ts) - ${loUs}L) div ${width}L")))
      (0 to 2).foreach { i =>
        sliced.filter(col("sl") === i).drop("sl")
          .coalesce(1)
          .write.mode(if (i == 0) "overwrite" else "append").parquet(replay)
        stampStage(replay, i)
      }
      def src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
      val views = src.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("view_ts"))
        .withWatermark("view_ts", "24 hours")
      val buys = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
          col("ts").as("buy_ts"))
        .withWatermark("buy_ts", "24 hours")
      val joined = views.join(buys,
          col("user_id") === col("buy_user") &&
            col("buy_ts") >= col("view_ts") &&
            col("buy_ts") <= col("view_ts") + expr("INTERVAL 6 HOURS"),
          "left_outer")
        .select(col("user_id"), col("view_id"), col("buy_id"),
          unix_micros(col("view_ts")).as("view_us"),
          unix_micros(col("buy_ts")).as("buy_us"))
      val q = joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out)
      .orderBy(col("user_id"), col("view_id"), col("buy_id"))
  }

  /** STATE-STORE OBSERVABILITY under the hash oracle: after a checkpointed
    * streaming aggregation drains (per-user count/Σid/min-max µs across 3
    * time-ordered micro-batches), the checkpoint's state store itself is
    * read back as a BATCH relation via Spark 4's `statestore` data source
    * and hash-compared to the oracle's plain GROUP BY over `events`. This
    * is a different claim from [[streamState]] (which gates the EMITTED
    * rows): here the bytes persisted in the state store — the thing a
    * restart recovers from, the thing an operator debugs with — must
    * reconstruct the relational aggregate exactly. Together with
    * `q_stream_resume` (recovery replays correctly) this closes the loop:
    * the state is right, and restarting from it is right. Key/value struct
    * columns are unnested positionally (the store's internal value-row
    * field names are an implementation detail; its FIELD ORDER is the
    * aggregation schema, which we pin). At scale the same reader is the
    * ops tool for state-size audits and skew triage: it is partitioned by
    * `partition_id`, so a 1000-executor cluster scans a TB-sized RocksDB
    * checkpoint in parallel without touching the running stream. */
  def streamStateRead(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_state_read") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      (0 to 2).foreach { i =>
        ev.filter(col("event_id") % 3 === i)
          .coalesce(1)
          .write.mode(if (i == 0) "overwrite" else "append").parquet(replay)
        stampStage(replay, i)
      }
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("ts", TimestampType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
      val agg = src.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        sum(col("event_id")).as("sum_ids"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      val q = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.count() // force the micro-batch (foreachBatch is lazy —
          (): Unit      // no action, no state update); rows discarded:
        }               // the QUERY RESULT here is the checkpoint, read below
        .start()
      q.awaitTermination()
      val state = s.read.format("statestore").load(chk)
      val keyF = state.select(col("key.*")).columns
      val valF = state.select(col("value.*")).columns
      state.select(
          col(s"key.`${keyF(0)}`").cast(LongType).as("user_id"),
          col(s"value.`${valF(0)}`").cast(LongType).as("n_events"),
          col(s"value.`${valF(1)}`").cast(LongType).as("sum_ids"),
          col(s"value.`${valF(2)}`").cast(LongType).as("first_us"),
          col(s"value.`${valF(3)}`").cast(LongType).as("last_us"))
        .write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(out).orderBy(col("user_id"))
  }

  /** CHAINED STATEFUL AGGREGATIONS in one streaming query (Spark 3.4+
    * multi-stateful-operator support): a per-(user, 10-min window) count
    * feeds a per-hour rollup of those buckets — TWO state stores, one
    * watermark, one query. Level-1 windows finalize when the watermark
    * passes their end; level-2 consumes them re-timestamped via
    * `window_time` (window end − 1 µs), so watermark propagation, not a
    * second withWatermark, gates the rollup. Append mode is REQUIRED for
    * chaining (the upstream agg must emit finalized rows downstream).
    *
    * Determinism on the bounded replay: three TIME-ORDERED slices
    * (strictly-newer batches ⇒ nothing late-dropped at delay 0) + the
    * final no-data batch advance the watermark to max(ts) exactly, so the
    * emitted set is precisely the hour windows with end ≤ max(ts) — the
    * same withheld-tail contract as [[streamOuter]], re-derived by the
    * oracle from `events` alone. At 100 TB this is the streaming-rollup
    * pattern (minute → hour → day) that otherwise costs one query + one
    * intermediate topic per grain. */
  def streamChained(s: SparkSession, dir: String): DataFrame = {
    val out = runOnce(s, dir, "stream_chained") { p =>
      val out = s"$p.parquet"
      val replay = s"${p}_replay"
      val chk = s"${p}_chk"
      val ev = graft.Tables(s, dir, "events").select(col("user_id"), col("ts"))
      val Array(loUs, hiUs) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val width = (hiUs - loUs) / 3L + 1L
      val sliced = ev.withColumn("sl",
        least(lit(2L), expr(s"(unix_micros(ts) - ${loUs}L) div ${width}L")))
      (0 to 2).foreach { i =>
        sliced.filter(col("sl") === i).drop("sl")
          .coalesce(1)
          .write.mode(if (i == 0) "overwrite" else "append").parquet(replay)
        stampStage(replay, i)
      }
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("user_id", LongType),
          StructField("ts", TimestampType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
      val perUserBucket = src
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val hourly = perUserBucket
        .groupBy(window(window_time(col("window")), "1 hour"))
        .agg(count(lit(1)).as("n_user_buckets"),
          sum(col("n")).as("n_events"),
          max(col("n")).as("max_bucket"))
        .select(unix_micros(col("window.start")).as("hour_us"),
          col("n_user_buckets"), col("n_events"), col("max_bucket"))
      val q = hourly.writeStream
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
      out
    }
    s.read.parquet(out).orderBy(col("hour_us"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_sessionize" -> (streamSessionize _),
    "q_stream_enrich" -> (streamEnrich _),
    "q_stream_dedup" -> (streamDedup _),
    "q_stream_join" -> (streamJoin _),
    "q_stream_late" -> (streamLate _),
    "q_stream_state" -> (streamState _),
    "q_stream_tws" -> (streamTypedState _),
    "q_stream_timer" -> (streamTimer _),
    "q_stream_cdc" -> (streamCdc _),
    "q_stream_snapshot" -> (streamSnapshot _),
    "q_stream_table_read" -> (streamTableRead _),
    "q_stream_neardup" -> (streamNearDup _),
    "q_stream_cdf_read" -> (streamCdfRead _),
    "q_stream_medallion" -> (streamMedallion _),
    "q_stream_v2src" -> (streamV2Source _),
    "q_stream_sliding" -> (streamSliding _),
    "q_stream_resume" -> (streamResume _),
    "q_stream_outer" -> (streamOuter _),
    "q_stream_dedup_wm" -> (streamDedupWm _),
    "q_stream_state_read" -> (streamStateRead _),
    "q_stream_chained" -> (streamChained _),
  )

  /** session_window's half-open interval: new session when gap >= 15 min
    * (the same boundary rule q_session_window's batch twin pins). */
  val oracleSql: Map[String, String] = Map(
    "q_stream_cdf_read" ->
      """WITH cbase AS (
        |  SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    'base' AS src
        |  FROM orders),
        |r1 AS (
        |  SELECT k, cust, cents + 3000 AS cents, 'r1' AS src
        |  FROM cbase WHERE cust % 10 = 0 AND k % 3 = 0),
        |v3 AS (
        |  SELECT * FROM cbase WHERE cust % 10 <> 0
        |  UNION ALL SELECT * FROM r1),
        |changes AS (
        |  SELECT 1 AS ver, 'insert' AS ct, src, cents FROM cbase
        |  UNION ALL
        |  SELECT 2, 'delete', src, cents FROM cbase WHERE cust % 10 = 0
        |  UNION ALL
        |  SELECT 3, 'insert', src, cents FROM r1
        |  UNION ALL
        |  SELECT 4, 'delete', src, cents FROM v3 WHERE cust % 7 = 0
        |  UNION ALL
        |  SELECT 4, 'insert', src, cents + 5000 FROM v3 WHERE cust % 7 = 0)
        |SELECT CAST(ver AS INTEGER) AS _commit_version, ct AS _change_type,
        |  src, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM changes GROUP BY ver, ct, src
        |ORDER BY ver, ct, src""".stripMargin,

    "q_stream_neardup" ->
      s"""${graft.ops.AffineSketch.bandedKeysOracleCtes},
        |hits AS (
        |  SELECT a.doc_id, a.band, min(b.doc_id) AS dup_of
        |  FROM banded a JOIN banded b USING (band, bkey)
        |  WHERE b.doc_id < a.doc_id
        |  GROUP BY a.doc_id, a.band)
        |SELECT doc_id, min(dup_of) AS dup_of,
        |  CAST(count(*) AS INTEGER) AS n_dup_bands
        |FROM hits GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_stream_table_read" ->
      """WITH trows AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) + 7000 AS cents
        |  FROM orders WHERE o_orderkey % 5 = 0)
        |SELECT k % 8 AS bucket, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(4 AS INTEGER) AS n_versions
        |FROM trows GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "q_stream_medallion" ->
      """SELECT event_type,
        |  count(*) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(user_id) AS BIGINT) AS sum_users,
        |  CAST(3 AS INTEGER) AS n_bronze_versions,
        |  CAST(3 AS INTEGER) AS n_silver_versions
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_stream_snapshot" ->
      """SELECT event_type,
        |  count(*) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(user_id) AS BIGINT) AS sum_users,
        |  min(epoch_us(ts)) AS min_us,
        |  max(epoch_us(ts)) AS max_us,
        |  CAST(3 AS INTEGER) AS n_versions
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_stream_sessionize" ->
      """WITH hits AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 900000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM hits
        |), numbered AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, min(ts_us) AS session_start_us,
        |       max(ts_us) AS session_end_us,
        |       count(*) AS hit_count,
        |       count(DISTINCT event_type) AS unique_types
        |FROM numbered GROUP BY user_id, session_id
        |ORDER BY user_id, session_start_us""".stripMargin,
    // tumbling window start = epoch µs floored to the hour; ts > 0 so
    // integer division is the floor on both engines
    "q_stream_enrich" ->
      """SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
        |       epoch_us(e.ts) // 3600000000 * 3600000000 AS window_us,
        |       e.event_type,
        |       count(*) AS n_events,
        |       min(epoch_us(e.ts)) AS first_us,
        |       max(epoch_us(e.ts)) AS last_us
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2, 3
        |ORDER BY nation, window_us, event_type""".stripMargin,
    // dedup must restore the ORIGINAL relation exactly: the oracle never
    // sees the duplicated replay, only `events` itself
    "q_stream_dedup" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |       CAST(sum(user_id) AS BIGINT) AS sum_users,
        |       min(event_id) AS min_id,
        |       max(event_id) AS max_id
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the join state store must reconstruct exactly the relational
    // interval self-join — the oracle never sees the two-batch replay
    "q_stream_join" ->
      """SELECT v.user_id,
        |       v.event_id AS view_id,
        |       b.event_id AS buy_id,
        |       epoch_us(v.ts) AS view_us,
        |       epoch_us(b.ts) AS buy_us
        |FROM events v JOIN events b
        |  ON v.user_id = b.user_id
        | AND v.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 6 HOUR
        |ORDER BY v.user_id, view_id, buy_id""".stripMargin,
    // watermark cutoff re-derived relationally: the cutoff is batch 0's
    // watermark — max ts over on-time rows with even event_id, truncated
    // to ms (watermarks are ms values), minus the 6 h delay; a late row
    // (event_id%5=0) survives iff its 1-hour window ends beyond it;
    // window start = epoch µs floored to the hour
    "q_stream_late" ->
      """WITH a AS (SELECT * FROM events WHERE event_id % 5 <> 0),
        |wm AS (SELECT (max(epoch_us(ts)) // 1000 - 21600000) * 1000 AS w
        |       FROM a WHERE event_id % 2 = 0),
        |ok AS (
        |  SELECT event_id, ts, event_type FROM a
        |  UNION ALL
        |  SELECT b.event_id, b.ts, b.event_type
        |  FROM events b, wm
        |  WHERE b.event_id % 5 = 0
        |    AND (epoch_us(b.ts) // 3600000000 + 1) * 3600000000 > wm.w)
        |SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_us,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |       min(event_id) AS min_id,
        |       max(event_id) AS max_id
        |FROM ok
        |GROUP BY 1, 2
        |ORDER BY window_us, event_type""".stripMargin,
    // cross-batch state carry must reconstruct the plain GROUP BY exactly
    "q_stream_state" ->
      """SELECT user_id,
        |       count(*) AS n_events,
        |       CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |       min(epoch_us(ts)) AS first_us,
        |       max(epoch_us(ts)) AS last_us
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // the CHECKPOINT'S STATE STORE (read back via the statestore batch
    // source) must reconstruct the plain GROUP BY exactly — same relation
    // as q_stream_state but asserted on the persisted state, not the
    // emitted rows
    "q_stream_state_read" ->
      """SELECT user_id,
        |       count(*) AS n_events,
        |       CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |       min(epoch_us(ts)) AS first_us,
        |       max(epoch_us(ts)) AS last_us
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // the MapState counts must reconstruct the relational per-user argmax
    // (count DESC, event_type ASC) exactly
    "q_stream_tws" ->
      """SELECT user_id, event_type AS top_type, n FROM (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY count(*) DESC, event_type) AS rk
        |  FROM events GROUP BY user_id, event_type)
        |WHERE rk = 1
        |ORDER BY user_id""".stripMargin,
    // under rows-before-timers ordering a user closes exactly once with
    // its full history (idle-in-batch-1 users emit the same row whether
    // the timer fired mid-stream or at the final no-data batch), so the
    // closed set is simply: every user whose ms-truncated last hit + gap
    // lies strictly below the final watermark (the stream's max event ms)
    "q_stream_timer" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ms FROM events),
        |wm AS (SELECT max(ms) AS w FROM e),
        |per AS (SELECT user_id, count(*) AS n_hits, max(ms) AS last_ms
        |        FROM e GROUP BY user_id)
        |SELECT user_id, last_ms + 900000 AS close_at_ms, n_hits
        |FROM per, wm
        |WHERE last_ms + 900000 < wm.w
        |ORDER BY user_id, close_at_ms""".stripMargin,
    // last-write-wins per user on (ts, event_id) — the merged CDC state
    // must equal the relational argmax over the full change history
    "q_stream_cdc" ->
      """SELECT user_id, last_us, last_event_id, event_type FROM (
        |  SELECT user_id, epoch_us(ts) AS last_us,
        |         event_id AS last_event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC,
        |                                     event_id DESC) AS rk
        |  FROM events)
        |WHERE rk = 1
        |ORDER BY user_id""".stripMargin,
    // the DSv2 generator contract re-derived from first principles:
    // generate_series + the source's published Knuth-scatter formulas
    "q_stream_v2src" ->
      """WITH e AS (
        |  SELECT i AS event_id,
        |    (i * 2654435761) % 1000 AS user_id,
        |    CASE CAST((i * 31) % 5 AS INT)
        |      WHEN 0 THEN 'view' WHEN 1 THEN 'click'
        |      WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
        |      ELSE 'error' END AS event_type,
        |    1700000000000000 + i * 250000 AS ts_us,
        |    (i * 7919) % 10000 AS cents
        |  FROM generate_series(0, 19999) t(i))
        |SELECT event_type,
        |  count(*) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(user_id) AS BIGINT) AS sum_users,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(ts_us) AS min_us,
        |  max(ts_us) AS max_us
        |FROM e
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the 4-way sliding-window expansion re-derived relationally:
    // window starts are epoch-aligned 30-min slides, and every event's
    // four candidate windows are valid (us − window_us < 4·slide = size)
    "q_stream_sliding" ->
      """WITH k AS (SELECT i FROM generate_series(0, 3) t(i)),
        |e AS (SELECT event_id, event_type, epoch_us(ts) AS us FROM events),
        |w AS (SELECT event_id, event_type,
        |             (us // 1800000000 - i) * 1800000000 AS window_us
        |      FROM e, k)
        |SELECT window_us, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |  min(event_id) AS min_id,
        |  max(event_id) AS max_id
        |FROM w
        |GROUP BY 1, 2
        |ORDER BY window_us, event_type""".stripMargin,
    // the restarted query's recovered state must reconstruct the plain
    // GROUP BY exactly: offset-log rewind double-counts, state loss
    // undercounts — either breaks the integer sums
    "q_stream_resume" ->
      """SELECT user_id,
        |       count(*) AS n_events,
        |       CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |       min(event_id) AS min_id,
        |       max(event_id) AS max_id
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // inner pairs plus watermark-proven unmatched views: the null-click
    // row exists iff the view's 6-hour horizon lies strictly below the
    // final global watermark (min over both sides of ms-truncated max
    // event time, minus the 24-hour delay)
    "q_stream_outer" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts,
        |                  epoch_us(ts) AS view_us
        |           FROM events WHERE event_type = 'view'),
        |b AS (SELECT user_id, event_id AS buy_id, ts, epoch_us(ts) AS buy_us
        |      FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(epoch_us(ts)) // 1000 FROM v),
        |                    (SELECT max(epoch_us(ts)) // 1000 FROM b))
        |              - 86400000 AS w_ms),
        |pairs AS (
        |  SELECT v.user_id, v.view_id, b.buy_id, v.view_us, b.buy_us
        |  FROM v JOIN b
        |    ON v.user_id = b.user_id
        |   AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 6 HOUR),
        |unmatched AS (
        |  SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS buy_id,
        |         v.view_us, CAST(NULL AS BIGINT) AS buy_us
        |  FROM v, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM b
        |                    WHERE b.user_id = v.user_id
        |                      AND b.ts >= v.ts
        |                      AND b.ts <= v.ts + INTERVAL 6 HOUR)
        |    AND v.view_us + 21600000000 < wm.w_ms * 1000)
        |SELECT * FROM pairs
        |UNION ALL
        |SELECT * FROM unmatched
        |ORDER BY user_id, view_id, buy_id NULLS FIRST""".stripMargin,
    // bounded-state dedup must restore the ORIGINAL relation exactly:
    // within-window replays die on retained state, behind-watermark
    // replays die on the late filter
    "q_stream_dedup_wm" ->
      """SELECT event_type,
        |       epoch_us(ts) // 604800000000 AS wk,
        |       count(*) AS n_events,
        |       CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |       CAST(sum(user_id) AS BIGINT) AS sum_users,
        |       min(event_id) AS min_id,
        |       max(event_id) AS max_id
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, wk""".stripMargin,
    // chained rollup: the emitted set is exactly the hour windows whose
    // end <= the final watermark (ms resolution — Spark tracks the
    // watermark in milliseconds), re-derived from events alone; every
    // 10-min bucket inside an emitted hour necessarily finalized first
    "q_stream_chained" ->
      """WITH wm AS (
        |  SELECT (max(epoch_us(ts)) // 1000) * 1000 AS wm_us FROM events),
        |b AS (
        |  SELECT user_id, epoch_us(ts) // 600000000 AS bkt, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |h AS (SELECT bkt // 6 AS hr, n FROM b)
        |SELECT CAST(hr * 3600000000 AS BIGINT) AS hour_us,
        |  count(*) AS n_user_buckets,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  max(n) AS max_bucket
        |FROM h, wm
        |WHERE (hr + 1) * 3600000000 <= wm.wm_us
        |GROUP BY hr ORDER BY hour_us""".stripMargin,
  )
}
