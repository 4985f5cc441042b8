package graft.elb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Sessionize

/** The reference's four goals executed end-to-end on the ELB pipeline:
  * synthetic raw lines (the stripped blob's stand-in) → quote-aware parse →
  * 15-min-gap sessionization by client IP (NOT ip:port — README.md:9,42;
  * SURVEY §1.3.3) → goal aggregates.
  *
  * Deterministic (fixed seed) but generated in-memory, so the input is not
  * a driver table; to still earn a full rows+schema+hash oracle, each query
  * persists its parsed relation to a parquet under `target/oracle_inputs/`
  * and reads it back, and the DuckDB oracle reads the SAME file — both
  * engines consume identical bytes, and the sessionize/aggregate semantics
  * downstream of the parse are hash-gated (the parse itself is hash-gated
  * by the events round trips below). ElbSpec additionally pins the
  * generator's by-construction session structure.
  */
object ElbQueries {

  /** Location the oracle SQL references: the per-process work dir, not a
    * per-session one, because the oracle SQL strings are session-free.
    * They are emitted by the SAME process that wrote the files, so the
    * DuckDB side always reads the bytes this process persisted; one file
    * per query tag keeps sibling queries from rewriting each other's. */
  private val OracleInputDir: String = graft.Tables.workBase

  /** Tags already persisted by THIS process: the synthetic input is
    * seed-deterministic, so the write runs once per (session, tag) and
    * later query constructions reuse the bytes instead of re-running a
    * Spark write job as a construction side effect. */
  private val written =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  private def parsedRequests(s: SparkSession): DataFrame = {
    import s.implicits._
    // 60 clients × 4 sessions × 6 hits, 1-in-50 lines malformed
    val lines = Synthetic.generate(seed = 42L, nClients = 60,
      sessionsPerClient = 4, hitsPerSession = 6, malformedEvery = 50)
    // gz text would arrive as 1 partition (non-splittable) — repartition
    // immediately, as the 100 TB path requires (SURVEY §7.5.3)
    LogParser.requests(lines.toDF("value").repartition(8))
  }

  /** Persist the parsed requests relation (timestamps as epoch-µs longs —
    * no parquet timestamp-encoding ambiguity between readers) and read it
    * back, so the Spark query and the DuckDB oracle share one input file.
    * One file PER QUERY (`tag`): overwrite rewrites part files under new
    * names, so a shared path would invalidate the file listing captured by
    * a previously-built sibling query's DataFrame (EntrySpec builds all
    * queries before counting any). */
  private def oracledRequests(s: SparkSession, tag: String): DataFrame = {
    val out = s"$OracleInputDir/elb_requests_$tag.parquet"
    if (written.add((s, tag)))
      parsedRequests(s)
        .select(col("client_ip"), col("client_port"),
          unix_micros(col("ts")).as("ts_us"), col("url"), col("elb_status"),
          // exact integer µs (the writer printed 6 decimals): integer sums
          // are order-independent, so downstream averages are bit-identical
          // on both engines with no decimal rounding at all
          round(col("backend_time_sec") * lit(1000000.0))
            .cast("long").as("backend_us"),
          col("sent_bytes"))
        .coalesce(1).write.mode("overwrite").parquet(out)
    s.read.parquet(out).withColumn("ts", timestamp_micros(col("ts_us")))
  }

  /** Goal 1: full sessions relation on parsed ELB data. */
  def elbSessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(oracledRequests(s, "sessionize"),
        col("client_ip"), col("ts"), col("client_port"), col("url"))
      .select(col("user_id").as("client_ip"), col("session_id"),
        col("session_start_us"), col("session_end_us"),
        col("hit_count"), col("unique_item_count").as("unique_urls"),
        col("duration_sec"))
      .orderBy(col("client_ip"), col("session_id"))

  /** Goals 2-4 in one result: avg session time, total sessions, and the
    * most-engaged IP (longest single session). */
  def elbGoals(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(oracledRequests(s, "goals"),
        col("client_ip"), col("ts"), col("client_port"), col("url"))
      .agg(
        // all session math on exact integer µs: the int64 sum is
        // order-independent, then ONE IEEE division by the count and one
        // by 1e6 — identical operands → bit-identical doubles on both
        // engines, no float-summation ordering, no decimal rounding
        // (the half-ulp round(avg(double)) flake class elbOpsMetrics
        // already eliminated)
        ((sum(col("session_end_us") - col("session_start_us")).cast("double")
          / count(lit(1))) / lit(1000000.0)).as("avg_session_sec"),
        count(lit(1)).as("n_sessions"),
        (max(col("session_end_us") - col("session_start_us")).cast("double")
          / lit(1000000.0)).as("max_session_sec"),
        max_by(col("user_id"), struct(
            col("session_end_us") - col("session_start_us"), col("user_id")))
          .as("most_engaged_ip"))

  /** Quarantine accounting: parsed vs rejected line counts — the
    * messy-data contract (README.md:61). */
  def elbParseStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = Synthetic.generate(seed = 42L, nClients = 60,
      sessionsPerClient = 4, hitsPerSession = 6, malformedEvery = 50)
      .toDF("value").repartition(8)
    val out = s"$OracleInputDir/elb_parse.parquet"
    if (written.add((s, "parse")))
      LogParser.parse(lines).select(col("_corrupt"), col("client_ip"))
        .coalesce(1).write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy(col("_corrupt"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("client_ip")).as("n_ips"))
      .orderBy(col("_corrupt"))
  }

  /** Classic LB operations metrics on the parsed log: per-minute request
    * count, error rate (5xx), null-safe latency aggregates and exact p95
    * backend latency (µs) — timeout lines (-1 sentinels → null) excluded
    * from latency but counted in traffic, exactly the messy-data posture
    * R:61 demands. Latency math runs on exact integer µs and the averages
    * are single IEEE divisions of identical integer operands — no decimal
    * rounding, so no half-ulp rounding-boundary flake vs the oracle. */
  def elbOpsMetrics(s: SparkSession, dir: String): DataFrame =
    oracledRequests(s, "ops")
      .groupBy(unix_micros(date_trunc("minute", col("ts"))).as("minute_us"))
      .agg(count(lit(1)).as("requests"),
        (sum(when(col("elb_status") >= 500, 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("error_rate"),
        count(col("backend_us")).as("n_with_latency"),
        (sum(col("backend_us")).cast("double") / count(col("backend_us")))
          .as("avg_backend_us"),
        // exact percentile = a per-group sort, but groups are single
        // MINUTES of one load balancer's traffic — bounded by arrival
        // rate, never corpus-proportional — so the sort is safe at any
        // corpus size; for percentiles over unbounded groups use
        // approx_percentile (the KLL/GK-sketch path, see Analytics)
        round(expr("percentile(backend_us, 0.95)"), 6).as("p95_backend_us"),
        sum(col("sent_bytes")).as("bytes_out"))
      .orderBy(col("minute_us"))

  /** Formats each `events` row as one well-formed ELB log line (`value`
    * column) using only SQL-expressible derivations: client IP is an
    * injective dotted quad of user_id (valid for user_id < 2^24; fixture max
    * is far below), the URL path carries event_type, the client port carries
    * event_id as the deterministic tie-break. Shared by
    * `elbRoundtripSessions` and ElbSpec's round-trip test so the query and
    * its goal-level assertion can never drift apart. */
  def eventsAsElbLines(events: DataFrame): DataFrame =
    events.select(format_string(
      "%s marketpalce-shop 10.%d.%d.%d:%d 10.0.4.7:80 0.000022 0.026109 " +
        "0.000020 200 200 0 %d \"GET https://example.shop:443/%s HTTP/1.1\" " +
        "\"Mozilla/5.0 (round trip)\" - -",
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"),
      expr("user_id div 65536 % 256"), expr("user_id div 256 % 256"),
      expr("user_id % 256"), expr("1024 + event_id % 60000"),
      col("event_id"), col("event_type")).as("value"))

  /** Events→ELB-text→parse→sessionize round trip with a true DuckDB
    * oracle: each `events` row is formatted as a well-formed ELB line using
    * only SQL-expressible derivations — client IP is an injective dotted
    * quad of user_id (valid for user_id < 2^24; fixture max is far below),
    * the URL path carries event_type, the client port carries event_id as
    * the deterministic tie-break. LogParser inverts the formatting exactly,
    * so the sessionized result must equal 15-min-gap sessionization of
    * `events` itself, which DuckDB computes directly — any parser drift
    * (quoting, sentinels, timestamp format) breaks the hash. This gives the
    * flagship parse→sessionize path (reference Goals 1, README.md:9-10) a
    * full rows+schema+hash correctness gate; the synthetic-input queries
    * above stay rows-only and are pinned by ElbSpec instead. */
  def elbRoundtripSessions(s: SparkSession, dir: String): DataFrame = {
    // widen (guide §2.6): format_string + the quote-aware parse are the
    // whole cost and run on the scan partitioning — serial off the
    // single-row-group fixture file.
    val lines = eventsAsElbLines(
      graft.Tables.widen(graft.Tables(s, dir, "events")))
    Sessionize.sessions(LogParser.requests(lines),
        col("client_ip"), col("ts"), col("client_port"), col("url"))
      .select(col("user_id").as("client_ip"), col("session_id"),
        col("session_start_us"), col("session_end_us"),
        col("hit_count"), col("unique_item_count").as("unique_urls"),
        col("duration_sec"))
      .orderBy(col("client_ip"), col("session_id"))
  }

  /** Round-trip twin of [[elbGoals]] with a true DuckDB oracle: the goal
    * aggregates (reference Goals 2-4, README.md:11-13) computed over the
    * parse→sessionize output of the events-derived lines, which the oracle
    * re-derives from `events` directly. The most-engaged tie-break is
    * (duration, ip) lexicographic on both engines. */
  def elbGoalsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val lines = eventsAsElbLines(
      graft.Tables.widen(graft.Tables(s, dir, "events"))) // guide §2.6

    Sessionize.sessions(LogParser.requests(lines),
        col("client_ip"), col("ts"), col("client_port"), col("url"))
      .agg(
        // same exact-integer-µs discipline as [[elbGoals]]
        ((sum(col("session_end_us") - col("session_start_us")).cast("double")
          / count(lit(1))) / lit(1000000.0)).as("avg_session_sec"),
        count(lit(1)).as("n_sessions"),
        (max(col("session_end_us") - col("session_start_us")).cast("double")
          / lit(1000000.0)).as("max_session_sec"),
        max_by(col("user_id"), struct(
            col("session_end_us") - col("session_start_us"), col("user_id")))
          .as("most_engaged_ip"))
  }

  /** Formats each `events` row as an ELB line with VARIED operational
    * fields, all derived from event_id so a DuckDB oracle can re-derive
    * them: status 503 every 50th event, 404 every 23rd (else 200); backend
    * time (event_id mod 1000)/1000 s, with every 97th event a `-1` timeout
    * sentinel (→ null after parse — excluded from latency, counted in
    * traffic); received/sent bytes event_id mod 100 / mod 10000. Exercises
    * the sentinel and status paths of [[LogParser]] under a full
    * rows+schema+hash gate, which the constant-field [[eventsAsElbLines]]
    * round trip cannot. */
  def eventsAsElbLinesVaried(events: DataFrame): DataFrame =
    events.select(format_string(
      "%s marketpalce-shop 10.%d.%d.%d:%d 10.0.4.7:80 0.000022 %s " +
        "0.000020 %d %d %d %d \"GET https://example.shop:443/%s HTTP/1.1\" " +
        "\"Mozilla/5.0 (round trip)\" - -",
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"),
      expr("user_id div 65536 % 256"), expr("user_id div 256 % 256"),
      expr("user_id % 256"), expr("1024 + event_id % 60000"),
      when(col("event_id") % 97 === 0, lit("-1"))
        .otherwise(format_string("%.6f", (col("event_id") % 1000) / 1000.0)),
      when(col("event_id") % 50 === 0, lit(503))
        .when(col("event_id") % 23 === 0, lit(404)).otherwise(lit(200)),
      when(col("event_id") % 50 === 0, lit(503))
        .when(col("event_id") % 23 === 0, lit(404)).otherwise(lit(200)),
      col("event_id") % 100, col("event_id") % 10000,
      col("event_type")).as("value"))

  /** Round-trip twin of [[elbOpsMetrics]] with a true DuckDB oracle:
    * per-minute traffic, 5xx error rate, null-safe latency aggregates and
    * exact p95 over the parsed [[eventsAsElbLinesVaried]] lines; the
    * oracle computes the same from `events` arithmetic. Any drift in
    * sentinel handling, status parsing, or byte-count typing breaks the
    * hash. */
  def elbOpsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val lines = eventsAsElbLinesVaried(
      graft.Tables.widen(graft.Tables(s, dir, "events"))) // guide §2.6
    LogParser.requests(lines)
      // exact integer µs (the writer printed 6 decimals) so the per-minute
      // average is an order-free int64 sum + single IEEE divisions — never
      // a float summation (the round(avg(double)) half-ulp flake class)
      .withColumn("backend_us",
        round(col("backend_time_sec") * lit(1000000.0)).cast("long"))
      .groupBy(unix_micros(date_trunc("minute", col("ts"))).as("minute_us"))
      .agg(count(lit(1)).as("requests"),
        round(avg(when(col("elb_status") >= 500, 1.0).otherwise(0.0)), 6)
          .as("error_rate"),
        count(col("backend_us")).as("n_with_latency"),
        ((sum(col("backend_us")).cast("double") / count(col("backend_us")))
          / lit(1000000.0)).as("avg_backend_sec"),
        round(expr("percentile(backend_time_sec, 0.95)"), 6).as("p95_backend_sec"),
        sum(col("sent_bytes")).as("bytes_out"))
      .orderBy(col("minute_us"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_elb_sessionize" -> (elbSessionize _),
    "q_elb_goals" -> (elbGoals _),
    "q_elb_parse_stats" -> (elbParseStats _),
    "q_elb_ops_metrics" -> (elbOpsMetrics _),
    "q_elb_roundtrip" -> (elbRoundtripSessions _),
    "q_elb_goals_rt" -> (elbGoalsRoundtrip _),
    "q_elb_ops_rt" -> (elbOpsRoundtrip _),
  )

  /** The DuckDB mirror of the events→lines→parse→sessionize pipeline:
    * 15-min-gap sessions re-derived from `events` directly. Shared by the
    * roundtrip and goals-roundtrip oracles. */
  private val roundtripSessionsCte: String =
    """WITH hits AS (
      |  SELECT printf('10.%d.%d.%d', user_id // 65536 % 256,
      |                user_id // 256 % 256, user_id % 256) AS client_ip,
      |         epoch_us(ts) AS ts_us, event_id, event_type
      |  FROM events
      |), lagged AS (
      |  SELECT *, lag(ts_us) OVER (PARTITION BY client_ip ORDER BY ts_us, event_id) AS prev_us
      |  FROM hits
      |), flagged AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 900000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM lagged
      |), numbered AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY client_ip ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged
      |), sess AS (
      |  SELECT client_ip, session_id,
      |         min(ts_us) AS session_start_us,
      |         max(ts_us) AS session_end_us,
      |         count(*) AS hit_count,
      |         count(DISTINCT event_type) AS unique_urls,
      |         (max(ts_us) - min(ts_us)) / 1000000.0 AS duration_sec
      |  FROM numbered GROUP BY client_ip, session_id
      |)""".stripMargin

  /** DuckDB mirror of the synthetic-input pipeline, reading the SAME
    * persisted parquet the Spark query read back — 15-min-gap sessions
    * re-derived independently. Tie-break client_port is never exercised
    * (the generator's per-client gaps are >= 10 s) but kept aligned. */
  private def syntheticSessionsCte(tag: String): String =
    s"""WITH lagged AS (
       |  SELECT client_ip, client_port, ts_us, url,
       |         lag(ts_us) OVER (PARTITION BY client_ip ORDER BY ts_us, client_port) AS prev_us
       |  FROM '$OracleInputDir/elb_requests_$tag.parquet/*.parquet'
       |), flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 900000000 THEN 1 ELSE 0 END AS new_sess
       |  FROM lagged
       |), numbered AS (
       |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY client_ip ORDER BY ts_us, client_port ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
       |  FROM flagged
       |), sess AS (
       |  SELECT client_ip, session_id,
       |         min(ts_us) AS session_start_us,
       |         max(ts_us) AS session_end_us,
       |         count(*) AS hit_count,
       |         count(DISTINCT url) AS unique_urls,
       |         (max(ts_us) - min(ts_us)) / 1e6 AS duration_sec
       |  FROM numbered GROUP BY client_ip, session_id
       |)""".stripMargin

  /** Every ELB query is fully oracle-checked: the events round trips read
    * driver tables directly; the synthetic-input queries read back their
    * own persisted parse, which the oracle reads too. */
  val oracleSql: Map[String, String] = Map(
    "q_elb_sessionize" ->
      s"""${syntheticSessionsCte("sessionize")}
         |SELECT client_ip, session_id, session_start_us, session_end_us,
         |       hit_count, unique_urls, duration_sec
         |FROM sess
         |ORDER BY client_ip, session_id""".stripMargin,

    "q_elb_goals" ->
      s"""${syntheticSessionsCte("goals")}
         |SELECT (CAST(sum(session_end_us - session_start_us) AS DOUBLE)
         |          / count(*)) / 1000000.0 AS avg_session_sec,
         |       count(*) AS n_sessions,
         |       CAST(max(session_end_us - session_start_us) AS DOUBLE)
         |          / 1000000.0 AS max_session_sec,
         |       (SELECT client_ip FROM sess
         |        ORDER BY session_end_us - session_start_us DESC,
         |                 client_ip DESC LIMIT 1)
         |         AS most_engaged_ip
         |FROM sess""".stripMargin,

    "q_elb_parse_stats" ->
      s"""SELECT _corrupt, count(*) AS n_lines,
         |       count(DISTINCT client_ip) AS n_ips
         |FROM '$OracleInputDir/elb_parse.parquet/*.parquet'
         |GROUP BY _corrupt ORDER BY _corrupt""".stripMargin,

    "q_elb_ops_metrics" ->
      s"""SELECT epoch_us(date_trunc('minute', make_timestamp(ts_us))) AS minute_us,
         |       count(*) AS requests,
         |       CAST(sum(CASE WHEN elb_status >= 500 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS error_rate,
         |       count(backend_us) AS n_with_latency,
         |       CAST(sum(backend_us) AS DOUBLE) / count(backend_us) AS avg_backend_us,
         |       round(quantile_cont(backend_us, 0.95), 6) AS p95_backend_us,
         |       CAST(sum(sent_bytes) AS BIGINT) AS bytes_out
         |FROM '$OracleInputDir/elb_requests_ops.parquet/*.parquet'
         |GROUP BY minute_us ORDER BY minute_us""".stripMargin,

    "q_elb_roundtrip" ->
      s"""$roundtripSessionsCte
         |SELECT client_ip, session_id, session_start_us, session_end_us,
         |       hit_count, unique_urls, duration_sec
         |FROM sess
         |ORDER BY client_ip, session_id""".stripMargin,

    "q_elb_goals_rt" ->
      s"""$roundtripSessionsCte
         |SELECT (CAST(sum(session_end_us - session_start_us) AS DOUBLE)
         |          / count(*)) / 1000000.0 AS avg_session_sec,
         |       count(*) AS n_sessions,
         |       CAST(max(session_end_us - session_start_us) AS DOUBLE)
         |          / 1000000.0 AS max_session_sec,
         |       (SELECT client_ip FROM sess
         |        ORDER BY session_end_us - session_start_us DESC,
         |                 client_ip DESC LIMIT 1)
         |         AS most_engaged_ip
         |FROM sess""".stripMargin,

    "q_elb_ops_rt" ->
      """WITH ops AS (
        |  SELECT epoch_us(date_trunc('minute', ts)) AS minute_us,
        |         CASE WHEN event_id % 50 = 0 THEN 503
        |              WHEN event_id % 23 = 0 THEN 404 ELSE 200 END AS status,
        |         CASE WHEN event_id % 97 = 0 THEN NULL
        |              ELSE (event_id % 1000)/1000.0 END AS backend_sec,
        |         CASE WHEN event_id % 97 = 0 THEN NULL
        |              ELSE (event_id % 1000) * 1000 END AS backend_us,
        |         event_id % 10000 AS sent_bytes
        |  FROM events
        |)
        |SELECT minute_us, count(*) AS requests,
        |       round(avg(CASE WHEN status >= 500 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END), 6) AS error_rate,
        |       count(backend_us) AS n_with_latency,
        |       (CAST(sum(backend_us) AS DOUBLE) / count(backend_us))
        |          / 1000000.0 AS avg_backend_sec,
        |       round(quantile_cont(backend_sec, 0.95), 6) AS p95_backend_sec,
        |       CAST(sum(sent_bytes) AS BIGINT) AS bytes_out
        |FROM ops GROUP BY minute_us
        |ORDER BY minute_us""".stripMargin,
  )
}
