package graft

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's fixed Parquet tables (TESTDATA.md).
  *
  * One parquet file per table under the scale-factor directory. Schemas are
  * documented in FIXTURES.md §A; `events.ts` is ns-precision parquet which
  * Spark reads truncated to µs — queries that must hash-match the DuckDB
  * oracle therefore expose timestamps as epoch-microsecond longs
  * (`unix_micros`), never raw timestamp columns (SURVEY.md §7.5.1).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized per (session, dir, table): `spark.read.parquet` builds a
    * fresh InMemoryFileIndex + reads the footer on EVERY call, so a
    * 300-query Bench/Verify run re-lists and re-parses the same 10
    * footers hundreds of times. DataFrames are immutable logical plans —
    * reuse is safe — and every caller that writes a table path writes a
    * FRESH directory (driver fixtures are read-only; test fixtures use
    * createTempDirectory), so a memoized listing can never go stale.
    * Values are NOT persisted — this caches plan construction, not data. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // lazy eviction: drop entries whose session has been stopped so a
    // long-lived JVM (forked test runner cycling suites/sessions) never
    // retains dead sessions' DataFrames for the process lifetime. The map
    // stays ≤ live-sessions × dirs × 10, so the sweep is O(small).
    memo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    memo.computeIfAbsent((spark, sfDir, name), _ => build(spark, sfDir, name))
  }

  /** Drop every memoized listing under `sfDir`, for any session. The memo
    * is only safe while table paths are never rewritten in place (driver
    * fixtures are read-only; test fixtures write fresh temp dirs) — a
    * writer that DOES rewrite a table under an existing dir must call this
    * first, or a previously captured file listing would be served stale. */
  def invalidate(sfDir: String): Unit =
    memo.keySet.removeIf(k => k._2 == sfDir)

  /** Clear the whole memo (test hygiene between suites). */
  def clear(): Unit = memo.clear()

  private def build(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" =>
      // The driver has shipped `ts` two ways across rounds: INT64
      // TIMESTAMP(NANOS) — which Spark 4 rejects outright
      // (PARQUET_TYPE_ILLEGAL) unless read as a long and truncated with
      // integer division (`div`, not `/`: epoch-ns ~1.7e18 exceeds
      // double's 2^53 exact range) — and plain TIMESTAMP(MICROS), which
      // Spark reads as TIMESTAMP_NTZ. Normalize both to the session-TZ
      // TimestampType (sessions pin UTC, so the NTZ cast is
      // value-preserving and DuckDB sees identical µs values).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // LongType here means TIMESTAMP(NANOS) read via nanosAsLong — but
          // a plain INT64-micros column would ALSO surface as LongType and
          // be mis-divided 1000×. Guard by magnitude: epoch-ns for any
          // plausible driver date is ≥ 1e17 (~1973); epoch-µs is ~1e15.
          // raise_error is codegen'd and costs one comparison per row.
          raw.withColumn("ts", timestamp_micros(expr(
            """CASE WHEN ts IS NULL THEN NULL
              |     WHEN ts >= 100000000000000000 THEN ts div 1000
              |     ELSE raise_error(concat('events.ts LongType value ', ts,
              |       ' is too small for epoch-nanos; the driver may have shipped INT64 micros'))
              |END""".stripMargin)))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case org.apache.spark.sql.types.TimestampType => raw
        case other =>
          // Fail fast: a third driver encoding (e.g. INT64 micros, which
          // would also read as LongType but mean a 1000× different value,
          // or a string) must surface as an explicit error here, not as
          // silent value drift against the oracle.
          throw new IllegalStateException(
            s"events.ts has unexpected parquet type $other; " +
              "extend Tables.apply with an explicit, value-checked normalization")
      }
    case _ =>
      spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Scale-adaptive parallelism floor (optimization guide §2.6/§6) for
    * relations feeding EXPENSIVE per-row/per-pair compute (DP verification,
    * per-position hashing, unrolled k-means): round-robin repartition up to
    * the cluster's default parallelism, but ONLY when the relation is
    * narrower than that. The sub-MB fixture parquet is a single row group,
    * so every scan starts at 1 partition regardless of
    * `spark.sql.files.*` settings (splits cannot cross a row-group
    * boundary) and any heavy compute downstream of it runs serial on one
    * core. At production scale the scan is already at or above cluster
    * width, so this is a NO-OP there — no shuffle is added where the data
    * is big; where it fires, it moves only the narrow pre-explosion
    * relation (never pair-level payloads, guide §8). */
  def widen(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val dp = sess.sparkContext.defaultParallelism
    // Width is estimated from the OPTIMIZED LOGICAL plan's size statistic
    // against the scan split size — never from df.rdd (r14 ADVICE: .rdd
    // forces the final physical plan, and under AQE that materializes any
    // upstream shuffle stages at plan-construction time; the real action
    // then re-executes them). sizeInBytes over-estimates after selective
    // filters/joins, which only errs toward the production no-op.
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      sess.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes < BigInt(maxSplit) * dp) df.repartition(dp) else df
  }

  /** Scopes session-conf overrides around a body (an iterative loop or a
    * streaming replay, typically), restoring the prior values afterwards. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Per-process work directory for the files queries write while they
    * are built (stream replays and checkpoints, persisted derived
    * relations, oracle inputs): checkout-relative (overridable via
    * GRAFT_ORACLE_INPUT_DIR), never a hardcoded absolute path, and
    * suffixed with the JVM pid so two concurrent processes (bench +
    * verify, forked test suites) never race on the same part files. */
  val workBase: String = {
    val b = sys.env.getOrElse("GRAFT_ORACLE_INPUT_DIR",
      s"${sys.props("user.dir")}/target/oracle_inputs")
    s"$b/p${ProcessHandle.current().pid()}"
  }

  private val sessionDirs =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()
  private val sessionSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** [[workBase]] narrowed to one session. Derived files are memoized per
    * session, so a second session rebuilding them must not rewrite (and so
    * invalidate) the files a first session's DataFrames already list. */
  def workDir(s: SparkSession): String =
    sessionDirs.computeIfAbsent(s, _ => s"$workBase/s${sessionSeq.incrementAndGet()}")

  private val ObservationWait = 60.seconds

  /** The metrics row of an `observe()`d action that has already run. Waits
    * at most [[ObservationWait]]: a metric that never arrives (the action
    * did not run, or stopped reporting) fails `step` loudly instead of
    * blocking forever. */
  def observed(obs: Observation, step: String): Row =
    try Await.result(obs.future, ObservationWait)
    catch { case e: TimeoutException => throw new IllegalStateException(
      s"$step: observe() metrics did not arrive within $ObservationWait", e) }

  /* "Tables.pinned" — persist + EAGER materialization (rationale kept as
   * the canonical reference for the inline `persist(); count() // eager`
   * sites; the helper itself was dead code, r14 ADVICE). AQE materializes
   * independent query stages CONCURRENTLY, so consumers of a merely-lazy
   * cache race into the same uncomputed InMemoryRelation and serialize on
   * its block locks — measured at r14-opt as up to ~2× summed task time on
   * the multi-consumer queries. One bounded count right after persist()
   * computes the cache exactly once. NOT universally a win: feeding the
   * planner accurate tiny-cache statistics can re-plan downstream joins
   * into broadcast cascades (see Analytics.userRecs) — apply only where a
   * bench median confirms it. */
}
