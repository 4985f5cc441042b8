package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-quality audit operators — the checks a 100 TB ingest runs before
  * anything downstream trusts the data. Each query's SQL text is generated
  * ONCE and executed verbatim on both engines (modulo the table name), so
  * the oracle pins the exact semantics, not a re-spelling.
  *
  * Scale posture: every audit is a single scan with map-side-combinable
  * aggregates; the only window functions run over per-block AGGREGATES
  * (≤ max_id/block rows), never over the raw relation in one partition.
  */
object Audit {

  /** Sentinel/shape audit over events: one scan, CASE-counted violation
    * tallies, unpivoted to a (metric, n_bad, n_total) report via portable
    * UNION ALL (the native-unpivot surface is pinned by q_unpivot). */
  private def nullAuditSql(table: String): String =
    s"""WITH n AS (
       |  SELECT count(*) AS n_total,
       |    count(CASE WHEN nullif(event_type, 'error') IS NULL THEN 1 END)
       |      AS c_sentinel,
       |    count(CASE WHEN value <= 0 THEN 1 END) AS c_nonpos,
       |    count(CASE WHEN props NOT LIKE '%"k"%' THEN 1 END) AS c_badprops
       |  FROM $table)
       |SELECT 'event_type_sentinel' AS metric, c_sentinel AS n_bad, n_total
       |  FROM n
       |UNION ALL
       |SELECT 'props_missing_k', c_badprops, n_total FROM n
       |UNION ALL
       |SELECT 'value_nonpositive', c_nonpos, n_total FROM n
       |ORDER BY metric""".stripMargin

  /** Deequ-style declarative expectation suite (Schelter et al.,
    * VLDB'18): completeness, uniqueness, range, set-membership, and
    * format constraints over `orders`, ALL measured in ONE scan (a
    * single aggregate computes every violation tally; UNION ALL unpivots
    * the 1-row result into the (expectation, n_bad, n_total, passed)
    * report — no per-constraint re-scan, the property that makes a
    * 100-constraint suite O(1 pass) at 100 TB). `uniqueness_custkey` is
    * deliberately a FAILING expectation (customers repeat), so both
    * verdict paths are exercised. Portable SQL text — the identical
    * string runs on Spark and DuckDB. */
  private def expectationsSql(table: String): String =
    s"""WITH n AS (
       |  SELECT count(*) AS n_total,
       |    count(*) - count(o_custkey) AS c_nullcust,
       |    count(*) - count(DISTINCT o_orderkey) AS c_dupkey,
       |    count(*) - count(DISTINCT o_custkey) AS c_dupcust,
       |    count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS c_nonpos,
       |    count(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 END)
       |      AS c_status,
       |    count(CASE WHEN NOT (substr(o_orderpriority, 1, 1)
       |                           BETWEEN '1' AND '5'
       |                         AND substr(o_orderpriority, 2, 1) = '-')
       |               THEN 1 END) AS c_prio
       |  FROM $table)
       |SELECT 'completeness_custkey' AS expectation,
       |  CAST(c_nullcust AS BIGINT) AS n_bad, n_total,
       |  c_nullcust = 0 AS passed FROM n
       |UNION ALL
       |SELECT 'uniqueness_orderkey', CAST(c_dupkey AS BIGINT), n_total,
       |  c_dupkey = 0 FROM n
       |UNION ALL
       |SELECT 'uniqueness_custkey', CAST(c_dupcust AS BIGINT), n_total,
       |  c_dupcust = 0 FROM n
       |UNION ALL
       |SELECT 'positive_totalprice', CAST(c_nonpos AS BIGINT), n_total,
       |  c_nonpos = 0 FROM n
       |UNION ALL
       |SELECT 'status_domain', CAST(c_status AS BIGINT), n_total,
       |  c_status = 0 FROM n
       |UNION ALL
       |SELECT 'priority_format', CAST(c_prio AS BIGINT), n_total,
       |  c_prio = 0 FROM n
       |ORDER BY expectation""".stripMargin

  def expectations(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(expectationsSql("orders_v"))
  }

  /** First-significant-digit distribution of order totals (Benford-style
    * fraud/quality screen): bounded 9-row output, share via a window over
    * the aggregated digits. */
  private def benfordSql(table: String): String =
    s"""WITH d AS (
       |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
       |    AS STRING), 1, 1) AS INT) AS digit
       |  FROM $table)
       |SELECT digit, count(*) AS n,
       |  round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS share
       |FROM d GROUP BY digit ORDER BY digit""".stripMargin

  /** Sequence-gap detection (missing ids in an ordered key space) WITHOUT
    * a global-order window: ids are blocked (1000/block); intra-block
    * adjacency uses a PARTITIONed lag, and block-boundary adjacency a lag
    * over the per-block min/max AGGREGATE (max_id/1000 rows) — the
    * two-phase trick that keeps global adjacency shuffle-parallel at any
    * scale. The audited stream drops every 97th id so the expected gap
    * list is known by construction. */
  private def gapsSql(table: String): String =
    s"""WITH f AS (
       |  SELECT event_id FROM $table WHERE event_id % 97 <> 0),
       |blk AS (
       |  SELECT event_id,
       |    CAST(floor(event_id / 1000.0) AS BIGINT) AS b
       |  FROM f),
       |intra AS (
       |  SELECT lag(event_id) OVER (PARTITION BY b ORDER BY event_id)
       |    AS prev, event_id AS cur
       |  FROM blk),
       |bounds AS (
       |  SELECT b, min(event_id) AS lo, max(event_id) AS hi
       |  FROM blk GROUP BY b),
       |boundary AS (
       |  SELECT lag(hi) OVER (ORDER BY b) AS prev, lo AS cur FROM bounds),
       |gaps AS (
       |  SELECT prev, cur FROM intra
       |  WHERE prev IS NOT NULL AND cur - prev > 1
       |  UNION ALL
       |  SELECT prev, cur FROM boundary
       |  WHERE prev IS NOT NULL AND cur - prev > 1)
       |SELECT prev + 1 AS gap_start, cur - 1 AS gap_end,
       |  cur - prev - 1 AS n_missing
       |FROM gaps ORDER BY gap_start""".stripMargin

  def nullAudit(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "events").createOrReplaceTempView("events_v")
    s.sql(nullAuditSql("events_v"))
  }

  def benford(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(benfordSql("orders_v"))
  }

  def sequenceGaps(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "events").createOrReplaceTempView("events_v")
    s.sql(gapsSql("events_v"))
  }

  /** k-anonymity audit (k = 5) over the customer quasi-identifier tuple
    * (market segment, nation, $1000 account-balance band) — the privacy
    * gate a training-data release runs before shipping user-derived rows:
    * per segment, the equivalence-class count, the smallest class, how many
    * classes fall below k, and the fraction of users those classes expose
    * (= the suppression rate enforcing k-anonymity would cost). One
    * hash aggregate to QI grain (bounded by segments × nations × bands),
    * one segment rollup. Same SQL text on both engines. */
  private def kAnonymitySql(table: String): String =
    s"""WITH g AS (
       |  SELECT c_mktsegment, c_nationkey,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |    count(*) AS k
       |  FROM $table GROUP BY c_mktsegment, c_nationkey,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT))
       |SELECT c_mktsegment, count(*) AS n_groups,
       |  CAST(min(k) AS BIGINT) AS min_k,
       |  count(CASE WHEN k < 5 THEN 1 END) AS groups_below_k,
       |  CAST(coalesce(sum(CASE WHEN k < 5 THEN k END), 0) AS BIGINT)
       |    AS users_at_risk,
       |  round(CAST(coalesce(sum(CASE WHEN k < 5 THEN k END), 0) AS DOUBLE)
       |    / sum(k), 6) AS suppression_rate
       |FROM g GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  def kAnonymity(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(kAnonymitySql("customer_v"))
  }

  /** l-diversity audit (l = 3) — k-anonymity's complement: a class of ≥ k
    * users is still exposed if they all share one SENSITIVE value, so per
    * quasi-identifier class (nation, $2000 balance band) count the
    * DISTINCT sensitive values (market segment) and flag classes below l.
    * Distinct-per-group runs as the standard two-phase expand aggregate on
    * the QI grain — bounded output, one shuffle; the report rolls classes
    * up per nation. Same SQL text on both engines. */
  private def lDiversitySql(table: String): String =
    s"""WITH g AS (
       |  SELECT c_nationkey,
       |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
       |    count(DISTINCT c_mktsegment) AS l,
       |    count(*) AS class_size
       |  FROM $table GROUP BY c_nationkey,
       |    CAST(floor(c_acctbal / 2000.0) AS BIGINT))
       |SELECT c_nationkey, count(*) AS n_classes,
       |  CAST(min(l) AS BIGINT) AS min_l,
       |  count(CASE WHEN l < 3 THEN 1 END) AS classes_below_l,
       |  CAST(coalesce(sum(CASE WHEN l < 3 THEN class_size END), 0)
       |    AS BIGINT) AS users_at_risk
       |FROM g GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  def lDiversity(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(lDiversitySql("customer_v"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian ICDE '07) — the third
    * rung of the privacy-ladder after [[kAnonymity]] and [[lDiversity]]:
    * an equivalence class can be k-large and l-diverse yet still leak if
    * its SENSITIVE-value distribution diverges from the global one (e.g. a
    * class that is 90% one segment when the corpus is 20%). Per QI class
    * (nation, $2000 balance band), distance = total variation between the
    * class's market-segment distribution and the corpus's — the EMD under
    * uniform ground distance. Computed EXACTLY in integers: TV =
    * Σ_s |a_s·B − b_s·A| / (2·A·B), where the numerator is an int64 sum
    * (order-free) and the single division is IEEE-identical across
    * engines. The class × sensitive-category expansion is (bounded QI
    * grain) × (5 segments) — never corpus-sized. Same SQL text runs on
    * both engines. */
  private def tClosenessSql(table: String): String =
    s"""WITH cls AS (
       |  SELECT c_nationkey,
       |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
       |    c_mktsegment, count(*) AS a
       |  FROM $table GROUP BY c_nationkey,
       |    CAST(floor(c_acctbal / 2000.0) AS BIGINT), c_mktsegment
       |), tot AS (
       |  SELECT c_nationkey, bal_band, CAST(sum(a) AS BIGINT) AS class_a
       |  FROM cls GROUP BY c_nationkey, bal_band
       |), gdist AS (
       |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS b FROM $table
       |  GROUP BY c_mktsegment
       |), gtot AS (SELECT CAST(sum(b) AS BIGINT) AS glob_b FROM gdist
       |), pairs AS (
       |  SELECT t.c_nationkey, t.bal_band, t.class_a, g.b, gt.glob_b,
       |    CAST(coalesce(c2.a, 0) AS BIGINT) AS a
       |  FROM tot t CROSS JOIN gdist g CROSS JOIN gtot gt
       |  LEFT JOIN cls c2 ON c2.c_nationkey = t.c_nationkey
       |    AND c2.bal_band = t.bal_band AND c2.c_mktsegment = g.c_mktsegment
       |), tv AS (
       |  SELECT c_nationkey, bal_band, max(class_a) AS class_a,
       |    CAST(sum(abs(a * glob_b - b * class_a)) AS DOUBLE)
       |      / (2.0 * max(class_a) * max(glob_b)) AS t
       |  FROM pairs GROUP BY c_nationkey, bal_band
       |)
       |SELECT c_nationkey, count(*) AS n_classes,
       |  round(max(t), 6) AS max_t,
       |  count(CASE WHEN t > 0.2 THEN 1 END) AS classes_above_t,
       |  CAST(coalesce(sum(CASE WHEN t > 0.2 THEN class_a END), 0) AS BIGINT)
       |    AS users_at_risk
       |FROM tv GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  def tCloseness(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(tClosenessSql("customer_v"))
  }

  /** Zone-map (data-skipping) effectiveness audit — the layout-advisor
    * query behind [[Layout]]'s range-sorted/Z-ordered writes: simulate
    * per-file min/max statistics (the parquet row-group / Iceberg-manifest
    * zone maps a 100 TB scan prunes with) under TWO layouts of the same
    * fact — 100-order ingestion buckets (uncorrelated with ship date, the
    * "files as they arrived" layout) vs ship-month ranges (the
    * date-sorted layout) — and report how many files a one-year ship-date
    * predicate could skip under each. The point the numbers make: zone
    * maps on an unsorted layout skip ~nothing (every file's min/max spans
    * the domain), the sorted layout skips ~5/6 of the data — which is WHY
    * the write side sorts. Shared SQL text runs on both engines, so the
    * full per-zone stat computation is hash-checked, not just the
    * summary. */
  private def zoneMapSql(table: String): String =
    s"""WITH z1 AS (
       |  SELECT CAST(floor(l_orderkey / 100.0) AS BIGINT) AS zone,
       |    count(*) AS n_rows,
       |    min(CAST(l_shipdate AS DATE)) AS mn,
       |    max(CAST(l_shipdate AS DATE)) AS mx
       |  FROM $table GROUP BY CAST(floor(l_orderkey / 100.0) AS BIGINT)),
       |z2 AS (
       |  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
       |      AS zone,
       |    count(*) AS n_rows,
       |    min(CAST(l_shipdate AS DATE)) AS mn,
       |    max(CAST(l_shipdate AS DATE)) AS mx
       |  FROM $table
       |  GROUP BY CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)),
       |zl AS (
       |  SELECT 'orderkey_bucket' AS layout, * FROM z1
       |  UNION ALL
       |  SELECT 'ship_month' AS layout, * FROM z2)
       |SELECT layout, count(*) AS n_zones,
       |  CAST(sum(CASE WHEN mx < DATE '1996-01-01'
       |                  OR mn >= DATE '1997-01-01'
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_prunable,
       |  CAST(sum(n_rows) AS BIGINT) AS rows_total,
       |  CAST(coalesce(sum(CASE WHEN mx < DATE '1996-01-01'
       |                           OR mn >= DATE '1997-01-01'
       |                      THEN n_rows END), 0) AS BIGINT) AS rows_skipped,
       |  round(CAST(coalesce(sum(CASE WHEN mx < DATE '1996-01-01'
       |                                 OR mn >= DATE '1997-01-01'
       |                            THEN n_rows END), 0) AS DOUBLE)
       |    / sum(n_rows), 6) AS skip_ratio
       |FROM zl GROUP BY layout ORDER BY layout""".stripMargin

  def zoneMap(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(zoneMapSql("lineitem_v"))
  }

  /** Rendezvous (highest-random-weight) sharding audit — Thaler &
    * Ravishankar '98, the stateless consistent-hashing scheme behind
    * cache rings and shard routers: every key routes to the shard with
    * the highest hash(shard, key), so GROWING the fleet from 8 to 9
    * shards moves only the keys whose new shard wins (≈ 1/9 of them),
    * while naive mod-N routing reshuffles ≈ 8/9 of the corpus. The audit
    * measures both movement ratios over the real user-id population —
    * the number that decides whether adding capacity to a 100 TB keyed
    * store is a rebalance or a full rewrite. Hashes are the md5-prefix
    * family of [[AffineSketch]], identical in both engines; the winner
    * is an explicit (weight, shard) lexicographic argmax, so ties (never
    * observed, but defined) break the same way everywhere.
    *
    * Shape: |keys|·9 hash rows through ONE grouped argmax per scheme —
    * map-side combined, no joins bigger than the key set. */
  def rendezvous(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables(s, dir, "events").select(col("user_id")).distinct()
    def hw(shard: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(shard.cast("string"), lit("-"),
        col("user_id").cast("string"))), 1, 7), 16, 10).cast("long")
    def hrw(n: Int, out: String) =
      keys.select(col("user_id"),
          explode(sequence(lit(0), lit(n - 1))).as("shard"))
        .withColumn("w", hw(col("shard")))
        .groupBy(col("user_id"))
        .agg(max(struct(col("w"), col("shard"))).as("m"))
        .select(col("user_id"), col("m.shard").as(out))
    val r = hrw(8, "s8").join(hrw(9, "s9"), "user_id")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).as("n_moved"))
      .select(lit("rendezvous").as("scheme"), col("n_keys"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_keys"), 6)
          .as("moved_ratio"))
    val m = keys
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("user_id") % 8 =!= col("user_id") % 9, 1L)
          .otherwise(0L)).as("n_moved"))
      .select(lit("mod").as("scheme"), col("n_keys"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_keys"), 6)
          .as("moved_ratio"))
    m.unionAll(r).orderBy(col("scheme"))
  }

  /** Shannon entropy + normalized entropy per categorical column — the
    * profiling signal behind key selection (a near-zero-entropy column
    * is useless as a partition key; a near-max one is a good shard key)
    * and drift baselines. One stacked scan (UNION ALL of the audited
    * columns), one grouped pass to value counts, entropy over the
    * per-column count relations; exact-integer count ratios keep the
    * ln arguments engine-identical. Same SQL text both engines. */
  private def colEntropySql(table: String): String =
    s"""WITH vals AS (
       |  SELECT 'event_type' AS col, event_type AS v FROM $table
       |  UNION ALL
       |  SELECT 'user_bucket', CAST(user_id % 10 AS STRING) FROM $table
       |  UNION ALL
       |  SELECT 'value_band', CAST(CAST(floor(value / 25.0) AS BIGINT)
       |    AS STRING) FROM $table),
       |cnt AS (
       |  SELECT col, v, count(*) AS c FROM vals GROUP BY col, v),
       |tot AS (
       |  SELECT col, sum(c) AS n, count(*) AS n_distinct
       |  FROM cnt GROUP BY col)
       |SELECT cnt.col, CAST(tot.n_distinct AS BIGINT) AS n_distinct,
       |  round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
       |    / ln(2.0), 6) AS entropy_bits,
       |  round((-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
       |    / ln(2.0)) / (ln(CAST(tot.n_distinct AS DOUBLE)) / ln(2.0)), 6)
       |    AS normalized
       |FROM cnt JOIN tot ON cnt.col = tot.col
       |GROUP BY cnt.col, tot.n, tot.n_distinct
       |ORDER BY cnt.col""".stripMargin

  def colEntropy(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "events").createOrReplaceTempView("events_v")
    s.sql(colEntropySql("events_v"))
  }

  /** `observe()` under the hash oracle — one-pass piggybacked audit
    * metrics (the Observation API, spec-pinned in ObservabilitySpec)
    * promoted to the gate: the "real work" is a count over the
    * error-filtered relation, and the SAME action carries an observation
    * over the PRE-filter relation (row count, exact id sums/bounds,
    * error tally). The query's result IS the observation plus the
    * work's own count, which must equal the relational truth DuckDB
    * re-derives from `events` — a drifted observation (wrong attach
    * point, post-filter metrics, lost rows) breaks the hash. At 100 TB
    * this is the audit pattern that costs zero extra scans. */
  def observeAudit(s: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val work = Tables(s, dir, "events")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("event_id")).as("sum_ids"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_error"))
      .filter(col("event_type") =!= "error")
    val kept = work.count()
    val m = Tables.observed(obs, "observeAudit")
    import s.implicits._
    Seq((m.getAs[Long]("n_rows"), m.getAs[Long]("sum_ids"),
      m.getAs[Long]("min_id"), m.getAs[Long]("max_id"),
      m.getAs[Long]("n_error"), kept))
      .toDF("n_rows", "sum_ids", "min_id", "max_id", "n_error", "n_kept")
  }

  /** Z-order (Morton) clustering audit — the 2-D half of [[zoneMap]]'s
    * story: a 1-D sorted layout prunes on one key and nothing else;
    * interleaving the bits of two bucketed keys ([[graft.ops.Layout.zValue]],
    * pure codegen'd bitwise expressions) and cutting the relation into
    * ALIGNED z-ranges bounds every zone in BOTH dimensions. With 6-bit
    * keys and 16 zones each zone is an aligned 16×16 Morton square —
    * span ≤ 16 per axis, proven per zone by the hash oracle — while the
    * b-sorted comparison layout's zones span the full 64-cell a-domain.
    * Equal-WIDTH z-ranges (z div 256) are used instead of
    * `repartitionByRange`'s equal-depth boundaries deliberately: the
    * boundaries are data-independent constants, so there is no sampled
    * nondeterminism to leak into the hash — the write path
    * ([[graft.ops.Layout.zorderBy]], LayoutSpec) keeps the sampled
    * range-partitioner, which balances file sizes at 100 TB where skew,
    * not alignment, is the constraint. */
  def zorderZones(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events").select(
      (col("user_id") % 64).as("a"), (col("event_id") % 64).as("b"))
    val zoned = ev
      .withColumn("z", graft.ops.Layout.zValue(col("a"), col("b"), 6))
      .withColumn("zone", expr("z div 256"))
    val morton = zoned.groupBy(col("zone"))
      .agg(count(lit(1)).as("n_rows"),
        (max(col("a")) - min(col("a")) + 1).as("span_a"),
        (max(col("b")) - min(col("b")) + 1).as("span_b"))
      .withColumn("layout", lit("morton"))
    val bsorted = ev.withColumn("zone", expr("b div 4"))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_rows"),
        (max(col("a")) - min(col("a")) + 1).as("span_a"),
        (max(col("b")) - min(col("b")) + 1).as("span_b"))
      .withColumn("layout", lit("b_sorted"))
    morton.union(bsorted)
      .select(col("layout"), col("zone"), col("n_rows"),
        col("span_a"), col("span_b"))
      .orderBy(col("layout"), col("zone"))
  }

  /** Hilbert clustering audit — [[zorderZones]]'s companion on the
    * stronger curve ([[graft.ops.Layout.withHilbert]]). Runs over the
    * DISTINCT occupied cells of the (user%64, event%64) grid so the hash
    * checks the Hilbert key of every cell, then audits the aligned
    * 256-cell ranges: each is an exact 16×16 square (the curve is a
    * quadtree traversal — same guarantee as Morton), and `max_step` — the
    * largest Manhattan distance between curve-consecutive occupied cells
    * inside a zone — pins the property Morton does NOT have: on a full
    * grid every Hilbert step is exactly 1 (Morton seams jump up to 63),
    * which is why a contiguous Hilbert key-range is one connected blob
    * and the better range-scan layout. LayoutSpec proves step≡1 and
    * 16×16 exactly on a constructed full grid; here sparse cells at tiny
    * SFs merely raise max_step identically on both engines. */
  def hilbertZones(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables(s, dir, "events")
      .select((col("user_id") % 64).as("a"), (col("event_id") % 64).as("b"))
      .distinct()
    val keyed = graft.ops.Layout.withHilbert(cells, col("a"), col("b"), 6, "d")
      .withColumn("zone", expr("d div 256"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("zone")).orderBy(col("d"))
    keyed
      .withColumn("step",
        coalesce(abs(col("a") - lag("a", 1).over(w)) +
          abs(col("b") - lag("b", 1).over(w)), lit(0L)))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_cells"),
        (max(col("a")) - min(col("a")) + 1).as("span_a"),
        (max(col("b")) - min(col("b")) + 1).as("span_b"),
        max(col("step")).as("max_step"))
      .orderBy(col("zone"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_observe_audit" -> (observeAudit _),
    "q_zorder_zones" -> (zorderZones _),
    "q_hilbert_zones" -> (hilbertZones _),
    "q_col_entropy" -> (colEntropy _),
    "q_rendezvous" -> (rendezvous _),
    "q_zone_map" -> (zoneMap _),
    "q_l_diversity" -> (lDiversity _),
    "q_k_anonymity" -> (kAnonymity _),
    "q_t_closeness" -> (tCloseness _),
    "q_null_audit" -> (nullAudit _),
    "q_expectations" -> (expectations _),
    "q_benford" -> (benford _),
    "q_sequence_gaps" -> (sequenceGaps _),
  )

  val oracleSql: Map[String, String] = Map(
    // the observation must equal the relational truth over the
    // pre-filter relation; n_kept is the filtered work's own count
    "q_observe_audit" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |  min(event_id) AS min_id,
        |  max(event_id) AS max_id,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept
        |FROM events""".stripMargin,
    "q_col_entropy" -> colEntropySql("events"),
    "q_rendezvous" -> {
      def hrwCte(n: Int, out: String): String =
        s"""$out AS (
           |  SELECT user_id, shard FROM (
           |    SELECT k.user_id, CAST(i AS INT) AS shard,
           |      ('0x'||substr(md5(CAST(i AS INT) || '-' ||
           |        CAST(k.user_id AS VARCHAR)), 1, 7))::BIGINT AS w,
           |      row_number() OVER (PARTITION BY k.user_id
           |        ORDER BY ('0x'||substr(md5(CAST(i AS INT) || '-' ||
           |          CAST(k.user_id AS VARCHAR)), 1, 7))::BIGINT DESC,
           |          CAST(i AS INT) DESC) AS rn
           |    FROM keys k, UNNEST(range(0, $n)) AS t(i))
           |  WHERE rn = 1)""".stripMargin
      s"""WITH keys AS (SELECT DISTINCT user_id FROM events),
         |${hrwCte(8, "h8")},
         |${hrwCte(9, "h9")},
         |r AS (
         |  SELECT 'rendezvous' AS scheme, count(*) AS n_keys,
         |    CAST(sum(CASE WHEN h8.shard <> h9.shard THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_moved
         |  FROM h8 JOIN h9 USING (user_id)),
         |m AS (
         |  SELECT 'mod' AS scheme, count(*) AS n_keys,
         |    CAST(sum(CASE WHEN user_id % 8 <> user_id % 9
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |  FROM keys)
         |SELECT scheme, n_keys, n_moved,
         |  round(CAST(n_moved AS DOUBLE) / n_keys, 6) AS moved_ratio
         |FROM (SELECT * FROM m UNION ALL SELECT * FROM r)
         |ORDER BY scheme""".stripMargin
    },
    // Layout.zValue's bit interleave re-derived in pure integer
    // arithmetic ((x // 2^i) % 2 per bit — no engine bitwise ops), so the
    // Morton key itself is what the hash checks
    "q_zorder_zones" ->
      """WITH ab AS (
        |  SELECT user_id % 64 AS a, event_id % 64 AS b FROM events),
        |mz AS (
        |  SELECT a, b,
        |    (((a // 1) % 2) * 2 + ((a // 2) % 2) * 8 + ((a // 4) % 2) * 32
        |     + ((a // 8) % 2) * 128 + ((a // 16) % 2) * 512
        |     + ((a // 32) % 2) * 2048
        |     + ((b // 1) % 2) * 1 + ((b // 2) % 2) * 4 + ((b // 4) % 2) * 16
        |     + ((b // 8) % 2) * 64 + ((b // 16) % 2) * 256
        |     + ((b // 32) % 2) * 1024) // 256 AS zone
        |  FROM ab),
        |m AS (
        |  SELECT 'morton' AS layout, zone, count(*) AS n_rows,
        |         max(a) - min(a) + 1 AS span_a, max(b) - min(b) + 1 AS span_b
        |  FROM mz GROUP BY zone),
        |s AS (
        |  SELECT 'b_sorted' AS layout, b // 4 AS zone, count(*) AS n_rows,
        |         max(a) - min(a) + 1 AS span_a, max(b) - min(b) + 1 AS span_b
        |  FROM ab GROUP BY b // 4)
        |SELECT layout, CAST(zone AS BIGINT) AS zone, n_rows,
        |       CAST(span_a AS BIGINT) AS span_a,
        |       CAST(span_b AS BIGINT) AS span_b
        |FROM (SELECT * FROM m UNION ALL SELECT * FROM s)
        |ORDER BY layout, zone""".stripMargin,
    // the Hilbert key re-derived level-by-level in pure integer CASE
    // arithmetic (Gray-code quadrant 0,1,3,2 + frame reflection — no
    // engine bitwise ops), per-level columns x0..x6/y0..y6/d0..d6 so no
    // alias ever shadows a base column on either engine
    "q_hilbert_zones" -> {
      def level(s: Int, k: Int): String = {
        val (x, y, d) = (s"x$k", s"y$k", s"d$k")
        s"""h${k + 1} AS (
           |  SELECT a, b,
           |    $d + ${s * s} * (CASE WHEN ($y // $s) % 2 = 1
           |        THEN (CASE WHEN ($x // $s) % 2 = 1 THEN 2 ELSE 1 END)
           |        ELSE (CASE WHEN ($x // $s) % 2 = 1 THEN 3 ELSE 0 END)
           |      END) AS d${k + 1},
           |    CASE WHEN ($y // $s) % 2 = 1 THEN $x
           |         WHEN ($x // $s) % 2 = 0 THEN $y ELSE 63 - $y
           |      END AS x${k + 1},
           |    CASE WHEN ($y // $s) % 2 = 1 THEN $y
           |         WHEN ($x // $s) % 2 = 0 THEN $x ELSE 63 - $x
           |      END AS y${k + 1}
           |  FROM h$k)""".stripMargin
      }
      val levels = Seq(32, 16, 8, 4, 2, 1).zipWithIndex
        .map { case (s, k) => level(s, k) }.mkString(",\n")
      s"""WITH ab AS (
         |  SELECT DISTINCT user_id % 64 AS a, event_id % 64 AS b FROM events),
         |h0 AS (SELECT a, b, a AS x0, b AS y0, 0 AS d0 FROM ab),
         |$levels,
         |st AS (
         |  SELECT a, b, d6 // 256 AS zone, d6,
         |    lag(a) OVER (PARTITION BY d6 // 256 ORDER BY d6) AS pa,
         |    lag(b) OVER (PARTITION BY d6 // 256 ORDER BY d6) AS pb
         |  FROM h6)
         |SELECT CAST(zone AS BIGINT) AS zone, count(*) AS n_cells,
         |  CAST(max(a) - min(a) + 1 AS BIGINT) AS span_a,
         |  CAST(max(b) - min(b) + 1 AS BIGINT) AS span_b,
         |  CAST(max(CASE WHEN pa IS NULL THEN 0
         |    ELSE abs(a - pa) + abs(b - pb) END) AS BIGINT) AS max_step
         |FROM st GROUP BY zone ORDER BY zone""".stripMargin
    },
    "q_zone_map" -> zoneMapSql("lineitem"),
    "q_l_diversity" -> lDiversitySql("customer"),
    "q_k_anonymity" -> kAnonymitySql("customer"),
    "q_t_closeness" -> tClosenessSql("customer"),
    "q_null_audit" -> nullAuditSql("events"),
    "q_expectations" -> expectationsSql("orders"),
    "q_benford" -> benfordSql("orders"),
    "q_sequence_gaps" -> gapsSql("events"),
  )
}
