package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Product-analytics operators over the `events` stream (SURVEY.md §2.11
  * extension): ordered-step conversion funnel, cohort retention, per-minute
  * load anomaly flagging, and value histograms — the query shapes a
  * clickstream warehouse runs daily, expressed so each rides a single
  * hash-partition-by-user (or by-minute) exchange and nothing funnels the
  * event log through one task.
  */
object Analytics {

  private def events(s: SparkSession, dir: String) = Tables(s, dir, "events")
  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** Ordered conversion funnel view → click → purchase at (user, day)
    * grain: within each user-day, the first view, the first click AT OR
    * AFTER that view, and the first purchase at or after that click
    * (strict step ordering — a click before any view does not count). One
    * row out: grain counts per stage + conversion rates.
    *
    * Shape: three chained conditional-min window passes over the SAME
    * `partitionBy(user_id, day)` — Catalyst plans ONE hash exchange and
    * stacked Window operators, then a per-grain aggregate collapses to
    * users×days rows and a global aggregate to 1. At 100 TB the only
    * corpus-wide movement is that single by-(user,day) shuffle — a finer
    * key than plain user_id, so per-task state stays bounded even for
    * pathologically active users. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("day"))
    val staged = events(s, dir)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("fv",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("fc",
        min(when(col("event_type") === "click" && col("ts_us") >= col("fv"),
          col("ts_us"))).over(w))
      .withColumn("fp",
        min(when(col("event_type") === "purchase" && col("ts_us") >= col("fc"),
          col("ts_us"))).over(w))
    staged.groupBy(col("user_id"), col("day"))
      .agg(max(col("fv")).as("fv"), max(col("fc")).as("fc"),
        max(col("fp")).as("fp"))
      .agg(count(lit(1)).as("n_user_days"),
        count(col("fv")).as("n_viewed"),
        count(col("fc")).as("n_clicked"),
        count(col("fp")).as("n_purchased"),
        // nullif: an empty upstream stage yields NULL, not an ANSI
        // divide-by-zero (Spark 4 throws on x/0 for doubles too)
        round(count(col("fc")) /
          nullif(count(col("fv")), lit(0)).cast("double"), 6)
          .as("view_to_click"),
        round(count(col("fp")) /
          nullif(count(col("fc")), lit(0)).cast("double"), 6)
          .as("click_to_purchase"))
  }

  /** Daily cohort retention: cohort = day of a user's first event; one row
    * per (cohort day, day offset) with the count of distinct users active
    * that day — the classic retention triangle.
    *
    * The per-user cohort is a window min over the by-user exchange; the
    * (user, cohort, day) distinct and the final groupBy are shuffles on
    * keys whose cardinality is users × active-days — already far below the
    * event count, and the final matrix is O(days²) regardless of corpus
    * size. */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .withColumn("cohort", min(col("day")).over(w))
      .distinct()
      .groupBy(unix_micros(col("cohort")).as("cohort_day_us"),
        datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_day_us"), col("day_offset"))
  }

  /** Per-minute load anomaly flags: minutes whose request count deviates
    * from the global mean by more than 2 sample standard deviations.
    *
    * The global (mu, sigma) comes from an UNPARTITIONED window over the
    * per-minute series, not a second aggregation of the raw events — a
    * `crossJoin(agg)` formulation re-scans and re-aggregates the full
    * event log (Catalyst does not share the common aggregate), doubling
    * the expensive step. The single-partition window is safe here because
    * the series' cardinality is bounded by TIME, not corpus size
    * (SURVEY §3.2's bounded-series rule: a century is ~53 M minutes). */
  def anomalyMinutes(s: SparkSession, dir: String): DataFrame = {
    val perMin = events(s, dir)
      .groupBy(unix_micros(date_trunc("minute", col("ts"))).as("minute_us"))
      .agg(count(lit(1)).as("requests"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    perMin
      .withColumn("mu_raw", avg(col("requests")).over(w))
      .withColumn("sigma_raw", stddev_samp(col("requests")).over(w))
      .withColumn("z",
        round((col("requests") - col("mu_raw")) / col("sigma_raw"), 6))
      .filter(abs(col("z")) > 2)
      .select(col("minute_us"), col("requests"),
        round(col("mu_raw"), 6).as("mu"),
        round(col("sigma_raw"), 6).as("sigma"), col("z"))
      .orderBy(col("minute_us"))
  }

  /** Fixed-width value histogram over `events.value`: 10 buckets of width
    * 50 with the last bucket absorbing the tail — per-bucket count and
    * corpus share. Pure per-row arithmetic into a 10-key aggregate (the
    * textbook map-side-combine shape, one scan, no joins); the share
    * denominator is a window sum over the ≤10-row RESULT, not a second
    * scan of the events. */
  def valueHistogram(s: SparkSession, dir: String): DataFrame = {
    val bucket = least(floor(col("value") / 50.0), lit(9.0)).cast("long")
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    events(s, dir)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"), (col("bucket") * 50).as("bucket_lo"), col("n"),
        round(col("n") / sum(col("n")).over(w).cast("double"), 6).as("share"))
      .orderBy(col("bucket"))
  }

  /** Winsorization (outlier clipping): `value` clipped to the per-event-
    * type [p05, p95] band, with a clipped flag — the standard robust-stats
    * cleaning step before aggregation/model features. The quantile bounds
    * are ROUNDED to 6 decimals before clipping/comparison on BOTH engine
    * and oracle sides: exact interpolated percentiles agree between Spark
    * and DuckDB only to ~1 ulp, and an unrounded bound would make the
    * clip/flag of a borderline row engine-dependent.
    *
    * Shape: a 5-row bounds aggregate broadcast back onto the stream — two
    * column-pruned scans (the exact-percentile aggregate needs its own
    * full pass; unavoidable without caching the input), and the join is
    * the genuinely-small-side case. */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val q = ev.groupBy(col("event_type")).agg(
      round(expr("percentile(value, 0.05)"), 6).as("p05"),
      round(expr("percentile(value, 0.95)"), 6).as("p95"))
    ev.join(broadcast(q), "event_type")
      .select(col("event_id"), col("event_type"),
        round(least(greatest(col("value"), col("p05")), col("p95")), 6)
          .as("value_clipped"),
        (col("value") < col("p05") || col("value") > col("p95"))
          .as("was_clipped"))
      .orderBy(col("event_id"))
  }

  /** Event-transition matrix (first-order Markov counts): for each user's
    * time-ordered event stream, count (event_type → next event_type)
    * transitions, with each row's share among transitions leaving the same
    * source state. One lag/lead window over the by-user exchange, then a
    * 25-key aggregate — the same single-shuffle shape as sessionization. */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ws = Window.partitionBy(col("from_type"))
    events(s, dir)
      .withColumn("from_type", col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_from",
        round(col("n") / sum(col("n")).over(ws).cast("double"), 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Inter-arrival time distribution per event type: percentiles of the
    * gap between a user's consecutive events of that type — the latency/
    * cadence profile behind retention and load modeling. lag over
    * (user, type) partitions, then a 5-key percentile aggregate. */
  def interArrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("gap_us")) / 1000000.0, 6).as("avg_gap_s"),
        round(expr("percentile(gap_us, 0.5)") / 1000000.0, 6).as("p50_gap_s"),
        round(expr("percentile(gap_us, 0.9)") / 1000000.0, 6).as("p90_gap_s"))
      .orderBy(col("event_type"))
  }

  /** Lag-1 / lag-5 autocorrelation of the per-minute load series — the
    * "is load predictable from its recent past" check behind the
    * lag-feature design of the load-forecast model. The lags are ROW lags
    * over the observed-minute series (zero-event minutes are absent) —
    * deliberately the SAME series `q_load_features` builds its lag
    * features from, so this measures exactly what the model consumes; for
    * a fixed-wall-clock-horizon autocorrelation, densify first with the
    * gap-fill transform (`q_load_gapfill`). The corpus collapses to the
    * per-minute grain before any window; the unpartitioned window on the
    * time-bounded series is safe at any corpus size (SURVEY §3.2). */
  def loadAutocorr(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("minute_us"))
    events(s, dir)
      .groupBy(unix_micros(date_trunc("minute", col("ts"))).as("minute_us"))
      .agg(count(lit(1)).as("requests"))
      .withColumn("lag1", lag(col("requests"), 1).over(w))
      .withColumn("lag5", lag(col("requests"), 5).over(w))
      .agg(count(lit(1)).as("n_minutes"),
        round(corr(col("requests"), col("lag1")), 6).as("r1"),
        round(corr(col("requests"), col("lag5")), 6).as("r5"))
  }

  /** Per-source document-length drift vs the corpus: the exact two-sample
    * Kolmogorov–Smirnov statistic between each source's n_chars
    * distribution and the pooled corpus distribution. For step CDFs the
    * supremum is attained at a pooled sample point, so evaluating
    * |F_source(x) - F_corpus(x)| at every observed x IS the exact KS —
    * the drift monitor a training-data pipeline runs per ingest batch.
    *
    * Scale shape: the only corpus-wide operation is the aggregation to
    * (source, n_chars) grain. Everything after — the sources × support
    * grid, the cumulative sums — lives on relations bounded by
    * |sources| × |distinct lengths|, and the per-source cumsum windows
    * partition by source over that bounded support. */
  def lengthDrift(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("source"), col("n_chars").as("x"))
    val c = d.groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
      .persist() // q-cache: feeds support, per-source totals, global CDF, grid
    // pooled support from the BOUNDED aggregate, not a second corpus scan
    val xs = c.select(col("x")).distinct()
    val srcTot = c.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val wS = Window.partitionBy(col("source")).orderBy(col("x"))
    val wG = Window.orderBy(col("x"))
    val fAll = c.groupBy(col("x")).agg(sum(col("c")).as("gc"))
      .withColumn("f_all",
        sum(col("gc")).over(wG) / sum(col("gc")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .select(col("x"), col("f_all"))
    srcTot.crossJoin(xs)
      .join(c, Seq("source", "x"), "left")
      .withColumn("f_s", sum(coalesce(col("c"), lit(0L))).over(wS) / col("t"))
      .join(fAll, "x")
      .groupBy(col("source"))
      .agg(round(max(abs(col("f_s") - col("f_all"))), 6).as("ks"))
      .orderBy(col("source"))
  }

  /** Within-type load percentiles: each (event_type, minute)'s request
    * count with its cume_dist among that type's minutes — "how busy was
    * this minute for this event type". The window partitions by type over
    * the per-(type, minute) AGGREGATED series (time-bounded), never over
    * raw events. */
  def loadCumeDist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("requests"))
    events(s, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("minute", col("ts"))).as("minute_us"))
      .agg(count(lit(1)).as("requests"))
      .withColumn("load_pctl", round(cume_dist().over(w), 6))
      .select(col("event_type"), col("minute_us"), col("requests"),
        col("load_pctl"))
      .orderBy(col("event_type"), col("minute_us"))
  }

  /** Equi-DEPTH histogram over `events.value` (complement of the
    * fixed-width q_value_histogram): bucket edges are the exact deciles,
    * so counts come out near-uniform and the edges themselves are the
    * informative output. The 9 edges are ONE aggregate row cross-joined
    * back onto the stream (broadcast NL of a single row); bucket
    * assignment is `size(filter(edges, e -> value > e))` — pure per-row
    * arithmetic, no sort of the corpus, unlike an ntile() formulation
    * which would funnel every row through one unpartitioned window task.
    * Edges are rounded to 6 decimals on both engines BEFORE comparison
    * (interpolated percentiles agree only to ~1 ulp across engines —
    * winsorize precedent). */
  def equidepthHistogram(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val edges = ev.agg(expr(
      "transform(percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), e -> round(e, 6))")
      .as("edges"))
    ev.crossJoin(edges)
      .select(expr("size(filter(edges, e -> value > e))").as("bucket"),
        col("edges"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        first(col("edges")).as("_e"))
      .select(col("bucket").cast("long").as("bucket"),
        when(col("bucket") > 0, expr("_e[bucket - 1]")).as("bucket_lo"),
        col("n"))
      .orderBy(col("bucket"))
  }

  /** Top user journeys: the most common first-5-event paths per
    * (user, day) — the "what do users actually do" query behind funnel
    * design. Path assembly is a collect_list over an ORDERED window frame
    * (element order = window sort order — a bare groupBy collect_list has
    * NO ordering guarantee), truncated to the first 5 events per
    * user-day; both windows share one (user, day) hash exchange and the
    * final aggregate's key space is bounded by |event_types|^5, not the
    * corpus. */
  def topPaths(s: SparkSession, dir: String): DataFrame = {
    val byDay = events(s, dir)
      .withColumn("day", date_trunc("day", col("ts")))
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val wFull = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    byDay
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .withColumn("path",
        concat_ws(">", collect_list(col("event_type")).over(wFull)))
      .filter(col("rn") === 1)
      .groupBy(col("path")).agg(count(lit(1)).as("n_user_days"))
      .orderBy(col("n_user_days").desc, col("path")).limit(15)
  }

  /** Daily and trailing-7-day active users (DAU / WAU): for each active
    * day, the distinct users that day and over [day-6, day]. A rolling
    * DISTINCT cannot ride a window frame (distinct doesn't decompose), so
    * the scale shape is contribute-forward: each (user, day) distinct pair
    * is exploded to the <=7 future days it makes that user active on — a
    * bounded 7x expansion of the already-deduplicated (user, day) relation,
    * NOT of the raw event log — then a count-distinct per target day.
    * Synthetic trailing days past the last activity are dropped by the
    * inner join back to real active days. The deduped (user, day) relation
    * is persisted — it feeds both the DAU and the WAU branch, and without
    * the persist each branch re-scans and re-deduplicates the corpus. */
  def rollingActive(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .persist() // q-cache
    val dau = ud.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr(
        "sequence(day, day + interval 6 days, interval 1 day)")).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau7"))
    dau.join(wau, "day")
      .select(unix_micros(col("day")).as("day_us"), col("dau"), col("wau7"))
      .orderBy(col("day_us"))
  }

  /** Single-pass heavy hitters over a composite event key via the
    * Misra–Gries mergeable sketch (`functions.MisraGries`) — ONE bounded
    * map per partition, partial-aggregated map-side and merged at a single
    * final reducer; the corpus is never shuffled by key. At 100 TB this is
    * the frequent-items shape when the key cardinality is too large (or
    * too skewed) for a full groupBy count and only the top of the
    * distribution matters.
    *
    * Here the key space (event_type × user_id mod 20 = 100 keys) stays
    * under the 128-counter capacity, so no decrement fires and the sketch
    * is EXACT — which is what gives this query a real DuckDB
    * group-by-count oracle. The approximation guarantee when keys overflow
    * capacity (est <= true <= est + n/(cap+1), no false negatives above
    * n/(cap+1)) is asserted separately in `SketchSpec`. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(128), Encoders.STRING)
    events(s, dir)
      .select(concat_ws(":", col("event_type"),
        pmod(col("user_id"), lit(20))).as("k"))
      .agg(mg(col("k")).as("hh"))
      .select(explode(col("hh")).as(Seq("key", "est")))
      .orderBy(col("est").desc, col("key"))
  }

  /** KMV distinct-count sketches with POST-HOC SET ALGEBRA — what
    * `approx_count_distinct` (HLL) cannot do: per-event-type sketches of
    * the user-day key are aggregated ONCE (mergeable typed
    * `functions.KmvSketch`, map-side combinable like MisraGries), then
    * union and intersection cardinalities are estimated purely from the
    * already-computed sketches with higher-order array expressions — no
    * second scan. Union sketch = k smallest of the merged value lists;
    * θ = normalized k-th minimum of the union; intersection ≈
    * (|A∩B below θ| / K) · est(union) (Beyer et al. SIGMOD'07). Exact
    * twins ride along per row so the error is visible in the output;
    * accuracy is pinned in SketchSpec, driver check rows-only (hash-based
    * sketch contents have no DuckDB twin). */
  def kmvUsers(s: SparkSession, dir: String): DataFrame = {
    val kk = 256
    val kmv = udaf(new graft.functions.KmvSketch(kk), Encoders.scalaLong)
    val keyed = events(s, dir).select(col("event_type"),
      concat_ws(":", col("user_id"),
        date_trunc("day", col("ts")).cast("date").cast("string")).as("ud"))
    val hashed = keyed.select(col("event_type"), col("ud"),
      xxhash64(col("ud")).as("h"))
    val sk = hashed.groupBy(col("event_type")).agg(kmv(col("h")).as("sk"))

    def u(c: Column): Column = c.cast("double") / lit(math.pow(2.0, 64)) + lit(0.5)
    def est(skc: Column): Column =
      when(size(skc) < kk, size(skc).cast("double"))
        .otherwise(lit((kk - 1).toDouble) / u(element_at(skc, kk)))

    val exact = hashed.groupBy(col("event_type"))
      .agg(countDistinct(col("ud")).as("exact_n"))
    val perType = sk.join(exact, "event_type")
      .select(col("event_type").as("scope"), col("exact_n"),
        round(est(col("sk")), 1).as("kmv_est"))

    // set algebra between the click and view sketches (1-row relations)
    val a = sk.filter(col("event_type") === "click").select(col("sk").as("ska"))
    val b = sk.filter(col("event_type") === "view").select(col("sk").as("skb"))
    val cu = hashed.filter(col("event_type") === "click").select(col("ud")).distinct()
    val vu = hashed.filter(col("event_type") === "view").select(col("ud")).distinct()
    val exactU = cu.union(vu).distinct().agg(count(lit(1)).as("exact_n"))
    val exactI = cu.intersect(vu).agg(count(lit(1)).as("exact_n"))

    val unionSk = slice(array_sort(array_distinct(
      concat(col("ska"), col("skb")))), 1, kk)
    val withU = a.crossJoin(b).withColumn("usk", unionSk)
      .withColumn("bigk", least(size(col("usk")), lit(kk)))
      .withColumn("theta", u(element_at(col("usk"), col("bigk"))))
      .withColumn("est_union", est(col("usk")))
      .withColumn("common_below",
        size(filter(array_intersect(col("ska"), col("skb")),
          x => u(x) <= col("theta"))))
      .withColumn("est_int",
        col("common_below").cast("double") / col("bigk") * col("est_union"))
    val unionRow = withU.crossJoin(exactU)
      .select(lit("click|view union").as("scope"), col("exact_n"),
        round(col("est_union"), 1).as("kmv_est"))
    val intRow = withU.crossJoin(exactI)
      .select(lit("click&view intersect").as("scope"), col("exact_n"),
        round(col("est_int"), 1).as("kmv_est"))

    perType.union(unionRow).union(intRow)
      .withColumn("rel_err",
        round(abs(col("kmv_est") - col("exact_n")) /
          greatest(col("exact_n").cast("double"), lit(1.0)), 4))
      .orderBy(col("scope"))
  }

  /** Count-Min sketch frequency estimation (Cormode & Muthukrishnan,
    * J.Alg'05) with DETERMINISTIC affine hashes — which makes the whole
    * sketch, not just its guarantee, oracle-checkable: h_i(x) =
    * ((a_i·x + b_i) mod p) mod w with fixed (a_i, b_i), p = 2^31−1, is the
    * same arithmetic in both engines, so the counter table AND every point
    * estimate hash-match DuckDB exactly.
    *
    * Build is the mergeable-summaries shape: ONE scan explodes each key to
    * its d=4 (row, bucket) coordinates and a groupBy folds them — map-side
    * combine collapses every task's contribution to ≤ d·w = 128 partial
    * rows, so the shuffle is O(tasks · 128) regardless of corpus size (the
    * point of a sketch: at 100 TB the sketch build never shuffles the
    * keys, only the 128-cell grids). Point queries join the query keys'
    * coordinates against the 128-row sketch (broadcast — genuinely tiny)
    * and take min over the d rows. w=32 forces real collisions on the 150
    * fixture keys, so the output exhibits the one-sided error the sketch
    * guarantees: est ≥ exact always (SketchSpec pins it), est ≤ exact +
    * N·e/w with probability 1−e^−d. */
  def cmsFreq(s: SparkSession, dir: String): DataFrame = {
    val d = 4
    val w = 32
    val p = 2147483647L
    val as = Seq(31L, 131L, 313L, 1013L)
    val bs = Seq(7L, 11L, 17L, 101L)
    def bucket(i: Int, x: Column): Column = ((x * as(i) + bs(i)) % p) % w
    def coordsOf(df: DataFrame): DataFrame =
      df.select(col("user_id"), posexplode(
          array((0 until d).map(i => bucket(i, col("user_id"))): _*))
        .as(Seq("row_i", "bucket")))
    val ev = events(s, dir).select(col("user_id"))
    val sketch = coordsOf(ev)
      .groupBy(col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
    val est = coordsOf(exact.select(col("user_id")))
      .join(broadcast(sketch), Seq("row_i", "bucket"))
      .groupBy(col("user_id"))
      .agg(min(col("cnt")).as("cms_est"))
    exact.join(est, "user_id")
      .select(col("user_id"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overest"))
      .orderBy(col("exact_cnt").desc, col("user_id"))
      .limit(30)
  }

  /** Bloom-filter membership audit with DETERMINISTIC affine hashes (the
    * same oracle-checkable construction as [[cmsFreq]]): an m=1024-bit,
    * k=3 filter over the distinct purchasers, probed by a 1000-id
    * candidate domain. Relationally the filter IS a `DISTINCT bit`
    * relation (≤ m rows — broadcast-sized no matter how big the member
    * set); the probe is an equi join of each candidate's k positions
    * against it, HIT iff all k positions are set (count = k). The shape
    * mirrors how a runtime bloom prune works at 100 TB: build once on the
    * small side, broadcast bits, drop non-matching rows before the real
    * join. One-sided error is structural — false negatives impossible
    * (spec pins it); the query reports the confusion counts and the
    * measured false-positive share. */
  def bloomAudit(s: SparkSession, dir: String): DataFrame = {
    val k = 3
    val m = 1024
    val p = 2147483647L
    val as = Seq(31L, 131L, 313L)
    val bs = Seq(7L, 11L, 17L)
    def positions(df: DataFrame): DataFrame =
      df.select(col("user_id"), explode(
          array((0 until k).map(i =>
            ((col("user_id") * as(i) + bs(i)) % p) % m): _*))
        .as("bit"))
    val members = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    val bits = positions(members).select(col("bit")).distinct()
    val cands = s.range(0, 1000).select(col("id").as("user_id"))
    val hits = positions(cands)
      .join(broadcast(bits), "bit")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("nset"))
      .filter(col("nset") === k)
      .select(col("user_id"))
    cands
      .join(members.withColumn("is_member", lit(true)), Seq("user_id"), "left")
      .join(hits.withColumn("is_hit", lit(true)), Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("is_member"), lit(false)).as("exact_member"),
        coalesce(col("is_hit"), lit(false)).as("bloom_hit"))
      .groupBy(col("exact_member"), col("bloom_hit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n").cast("double") / 1000.0, 6))
      .orderBy(col("exact_member"), col("bloom_hit"))
  }

  /** Normalized finite-window exponentially-weighted moving average of the
    * per-minute load series (decay 0.7, 8 taps): ewma_t =
    * Σ_j x_{t−j}·0.7^j / Σ_j 0.7^j over the taps that exist. The infinite
    * recursive EWMA has no shuffle-parallel SQL form (and the closed form
    * Σ x_i·c^{−i} overflows for long series); an 8-tap truncation carries
    * > 94 % of the total weight at decay 0.7 and is expressible as a pure
    * lag-chain — the SAME text runs on both engines modulo the epoch
    * function. Window is over the time-bounded per-minute series (≤ 1440
    * rows/day after the map-side-combined count), same scale posture as
    * q_anomaly_minutes. */
  private def ewmaSql(table: String, epochUs: String => String): String = {
    val taps = 0 to 7
    val num = taps.map(j => s"coalesce(lag(x, $j) OVER w, 0) * power(0.7, $j)")
      .mkString(" + ")
    val den = taps.map(j =>
        s"(CASE WHEN lag(x, $j) OVER w IS NOT NULL THEN power(0.7, $j) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH series AS (
       |  SELECT ${epochUs("date_trunc('minute', ts)")} AS minute_us,
       |         count(*) AS x
       |  FROM $table GROUP BY 1)
       |SELECT minute_us, x, round(($num) / ($den), 6) AS ewma
       |FROM series
       |WINDOW w AS (ORDER BY minute_us)
       |ORDER BY minute_us""".stripMargin
  }

  def ewmaLoad(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).createOrReplaceTempView("events_v")
    s.sql(ewmaSql("events_v", t => s"unix_micros($t)"))
  }

  /** CUSUM changepoint/burst detection over the DENSE hourly load series
    * (Page 1954): with P_n = Σ_{j≤n} (x_j − k) the one-sided CUSUM
    * S_n = max(0, S_{n−1} + x_n − k) has the closed form
    * S_n = P_n − min(0, min_{j≤n} P_j) — two running-window passes over an
    * ordered prefix sum instead of an inherently sequential recursion, so
    * the whole detector is window functions over ONE by-type exchange.
    * Allowance k = μ + σ/2, alarm threshold h = 4σ (per event type, over
    * the gap-filled series — missing hours count as zero load, which is
    * exactly what an ops burst detector must see). The hour spine comes
    * from `sequence(min, max, 1 hour)` — bounded by wall-clock range, not
    * corpus size; per-type series length is hours-in-range, so the window
    * partition stays small no matter how many events land in each hour. */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val bounds = hourly.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val spine = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
          .as("hour"))
    val dense = spine.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("cnt"), lit(0.0)).as("cnt"))
    val st = dense.groupBy(col("event_type"))
      .agg(avg(col("cnt")).as("mu"), stddev_samp(col("cnt")).as("sigma"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense.join(broadcast(st), "event_type")
      .withColumn("p",
        sum(col("cnt") - (col("mu") + lit(0.5) * col("sigma"))).over(w))
      .withColumn("cusum_stat",
        round(col("p") - least(lit(0.0), min(col("p")).over(w)), 6))
      .filter(col("cusum_stat") > lit(4.0) * col("sigma"))
      .select(col("event_type"), unix_micros(col("hour")).as("hour_us"),
        col("cnt").cast("long").as("cnt"), col("cusum_stat"))
      .orderBy(col("event_type"), col("hour_us"))
  }

  /** Robust outlier flagging by MAD (median absolute deviation): per event
    * type, robust z = 0.6745·(x − median)/MAD, flag |z| > 3.5 (the
    * Iglewicz–Hoaglin modified z-score — immune to the outliers it hunts,
    * unlike the σ-based q_anomaly_minutes which heavy tails inflate).
    * Exact two-level median: a by-type aggregate, a join back, a second
    * by-type aggregate — two narrow exchanges over a handful of groups.
    * Exact `median` sorts within each group, fine for bounded type
    * cardinality; an unbounded group-key version would ride
    * approx_percentile(0.5) instead (same plan shape, no per-group sort). */
  /** Half-up-toward-+∞ rounding via floor(x·10^k + 0.5)/10^k — the SAME
    * float ops on the same doubles in both engines. `round()` itself is
    * NOT engine-portable at exact tie boundaries: Spark expands the
    * double to decimal and HALF_UPs, DuckDB multiplies and std::rounds,
    * and the two can land on opposite sides of an ....5 ulp — the r14
    * sf0.1 sweep caught q_bot_flags (33374.0610425) and q_mad_outliers
    * flipping their last digit. Only queries whose pre-round doubles are
    * bit-identical across engines need this; everything integer-exact is
    * immune by construction. */
  private def rhu(c: Column, k: Int): Column = {
    val s = math.pow(10, k)
    floor(c * s + 0.5) / s
  }

  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val med = e.groupBy(col("event_type")).agg(median(col("value")).as("med"))
    val mad = e.join(broadcast(med), "event_type")
      .groupBy(col("event_type"), col("med"))
      .agg(median(abs(col("value") - col("med"))).as("mad"))
    e.join(broadcast(mad), "event_type")
      .withColumn("robust_z",
        rhu(lit(0.6745) * (col("value") - col("med")) / col("mad"), 4))
      .filter(abs(col("robust_z")) > 3.5)
      .select(col("event_id"), col("event_type"),
        rhu(col("value"), 6).as("value"), col("robust_z"))
      .orderBy(col("event_id"))
  }

  /** Two-proportion z-test per experiment segment (the A/B-test readout):
    * deterministic hash assignment user_id % 2 → variant, conversion =
    * any purchase over 150 within the window, pooled-proportion z per
    * market segment. The per-user collapse and the per-(segment, variant)
    * counts are two hash aggregates; the variant pair folds to one row per
    * segment via conditional min/max — no pivot, no driver math. All
    * arithmetic is spelled in the same operation order on both engines so
    * the rounded z is bit-identical. */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val assign = events(s, dir).join(cust, "user_id")
      .groupBy(col("user_id"), (col("user_id") % 2).as("variant"),
        col("segment"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150.0,
        1).otherwise(0)).as("converted"))
    val v = assign.groupBy(col("segment"), col("variant"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("converted")).cast("double").as("conv"))
    val wide = v.groupBy(col("segment"))
      .agg(max(when(col("variant") === 0, col("n"))).as("na"),
        max(when(col("variant") === 0, col("conv"))).as("ca"),
        max(when(col("variant") === 1, col("n"))).as("nb"),
        max(when(col("variant") === 1, col("conv"))).as("cb"))
    val pool = (col("ca") + col("cb")) / (col("na") + col("nb"))
    val z = (col("cb") / col("nb") - col("ca") / col("na")) /
      sqrt(pool * (lit(1.0) - pool) *
        (lit(1.0) / col("na") + lit(1.0) / col("nb")))
    wide.select(col("segment"),
        col("na").cast("long").as("n_a"), col("ca").cast("long").as("conv_a"),
        col("nb").cast("long").as("n_b"), col("cb").cast("long").as("conv_b"),
        round(col("ca") / col("na"), 6).as("rate_a"),
        round(col("cb") / col("nb"), 6).as("rate_b"),
        round(z, 4).as("z_stat"),
        (abs(round(z, 4)) > 1.96).as("significant"))
      .orderBy(col("segment"))
  }

  /** Event-sequence pattern mining (the MATCH_RECOGNIZE shape without the
    * operator): per (user, day), the ordered event-type initial string
    * (`listagg … WITHIN GROUP` — deterministic (ts, event_id) order), then
    * regex counting of the view→clicks→purchase motif `vc*p`
    * (non-overlapping leftmost matches — identical semantics in Java regex
    * and RE2). One by-(user, day) aggregate; per-group state is the day's
    * event-initial string, bounded by daily activity. */
  def eventPatterns(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).createOrReplaceTempView("events_v")
    s.sql(
      """SELECT user_id, unix_micros(date_trunc('day', ts)) AS day_us,
        |  listagg(left(event_type, 1), '') WITHIN GROUP (ORDER BY ts, event_id)
        |    AS seq,
        |  length(listagg(left(event_type, 1), '')
        |    WITHIN GROUP (ORDER BY ts, event_id)) AS seq_len,
        |  regexp_count(listagg(left(event_type, 1), '')
        |    WITHIN GROUP (ORDER BY ts, event_id), 'vc*p') AS n_conversions
        |FROM events_v
        |GROUP BY user_id, date_trunc('day', ts)
        |ORDER BY user_id, day_us""".stripMargin)
  }

  /** Market-basket association rules over per-(user, day) event-type
    * baskets: for each ordered type pair a→b co-occurring in ≥ 5 baskets,
    * support = P(a∧b), confidence = P(b|a), lift = conf/P(b). The basket
    * relation is DISTINCT (user, day, type) — bounded by users×days×|types|
    * — and the pair join is per-basket over ≤ |types| rows each, so pair
    * work is Σ_b |b|² with |b| ≤ 5 here (and ≤ |event vocabulary| always);
    * per-item counts and the basket total are |types|-sized broadcasts.
    * Lift is rounded BEFORE the rank order so cross-engine float division
    * cannot flip the ordering. */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    val baskets = events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("event_type"))
      .distinct().persist() // q-cache
    val nb = baskets.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).cast("double").as("nb"))
    val item = baskets.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("c"))
    val co = baskets
      .select(col("user_id"), col("day"), col("event_type").as("antecedent"))
      .join(baskets.select(col("user_id"), col("day"),
        col("event_type").as("consequent")), Seq("user_id", "day"))
      .filter(col("antecedent") =!= col("consequent"))
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).cast("double").as("c_ab"))
      .filter(col("c_ab") >= 5)
    co.join(broadcast(item.select(col("event_type").as("antecedent"),
        col("c").as("ca"))), "antecedent")
      .join(broadcast(item.select(col("event_type").as("consequent"),
        col("c").as("cb"))), "consequent")
      .crossJoin(broadcast(nb))
      .select(col("antecedent"), col("consequent"),
        col("c_ab").cast("long").as("pair_baskets"),
        round(col("c_ab") / col("nb"), 6).as("support"),
        round(col("c_ab") / col("ca"), 6).as("confidence"),
        round(col("c_ab") * col("nb") / (col("ca") * col("cb")), 6).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
  }

  /** First-touch / last-touch revenue attribution: each purchase credits
    * its value to the last non-purchase event type strictly before it and
    * to the user's first non-purchase touch overall ("(direct)" when no
    * touch exists). Both window passes share the SAME (user_id) partition
    * and (ts, event_id) order, so Catalyst plans ONE exchange+sort with
    * stacked Window operators; the per-channel rollup is |types|-sized.
    * Conservation (Σ last-touch revenue = Σ first-touch revenue = total
    * purchase revenue) is pinned in the spec — the audit every attribution
    * pipeline must pass. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val tagged = events(s, dir)
      .withColumn("lt", last(touch, ignoreNulls = true)
        .over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ft", first(touch, ignoreNulls = true)
        .over(ord.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("lt"), lit("(direct)")).as("lt_ch"),
        coalesce(col("ft"), lit("(direct)")).as("ft_ch"), col("value"))
      .persist() // q-cache
    val lt = tagged.groupBy(col("lt_ch").as("channel"))
      .agg(count(lit(1)).as("lt_purchases"), sum(col("value")).as("lt_rev"))
    val ft = tagged.groupBy(col("ft_ch").as("channel"))
      .agg(count(lit(1)).as("ft_purchases"), sum(col("value")).as("ft_rev"))
    lt.join(ft, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("lt_purchases"), lit(0L)).as("lt_purchases"),
        round(coalesce(col("lt_rev"), lit(0.0)), 6).as("lt_revenue"),
        coalesce(col("ft_purchases"), lit(0L)).as("ft_purchases"),
        round(coalesce(col("ft_rev"), lit(0.0)), 6).as("ft_revenue"))
      .orderBy(col("channel"))
  }

  /** Time-to-convert funnel latency per market segment: for each user, the
    * first view and the first purchase AT OR AFTER it; per segment, the
    * viewer/converter counts and the exact median and p90 of the
    * conversion delay. Two user-keyed aggregates meet on one shuffled
    * equi join (both sides user-grain); the customer dim is broadcast.
    * Exact interpolated percentiles are per-segment over user-grain rows —
    * bounded groups; `approx_percentile` is the swap for unbounded keys. */
  def timeToConvert(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val e = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val fv = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("fv"))
    val fp = e.filter(col("event_type") === "purchase")
      .join(fv, "user_id").filter(col("ts_us") >= col("fv"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("fp"))
    fv.join(fp, Seq("user_id"), "left")
      .join(broadcast(cust), "user_id")
      .withColumn("delay_s", (col("fp") - col("fv")) / 1000000.0)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_viewers"),
        count(col("fp")).as("n_converted"),
        round(count(col("fp")).cast("double") / count(lit(1)), 6)
          .as("conv_rate"),
        round(median(col("delay_s")), 6).as("median_delay_s"),
        round(percentile(col("delay_s"), lit(0.9)), 6).as("p90_delay_s"))
      .orderBy(col("segment"))
  }

  /** Cohort LTV curves: users cohorted by first-event week; per (cohort,
    * purchase-age-in-weeks) the buyer count, revenue, and the running
    * cumulative revenue — the lifetime-value readout. The only corpus-wide
    * movements are the per-user first-event aggregate and one user-keyed
    * join of purchases to cohorts; the cumulative window partitions by
    * cohort over age weeks — TIME-bounded series, never corpus-bounded
    * (SURVEY §3.2's bounded-series rule). */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val cohorts = events(s, dir).groupBy(col("user_id"))
      .agg(min(col("ts")).as("fts"))
      .select(col("user_id"), date_trunc("week", col("fts")).as("cohort"))
    val sizes = cohorts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_users"))
    val perAge = events(s, dir).filter(col("event_type") === "purchase")
      .join(cohorts, "user_id")
      .groupBy(col("cohort"),
        floor(datediff(date_trunc("week", col("ts")), col("cohort")) / lit(7.0))
          .cast("long").as("age_wk"))
      .agg(countDistinct(col("user_id")).as("buyers"),
        sum(col("value")).as("rev"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age_wk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perAge.join(broadcast(sizes), "cohort")
      .withColumn("cum", sum(col("rev")).over(w))
      .select(unix_micros(col("cohort")).as("cohort_week_us"), col("age_wk"),
        col("cohort_users"), col("buyers"), round(col("rev"), 6).as("revenue"),
        round(col("cum"), 6).as("cum_revenue"))
      .orderBy(col("cohort_week_us"), col("age_wk"))
  }

  /** RFM customer segmentation: per purchasing user, recency (days since
    * last purchase vs corpus max day), frequency (purchase count), and
    * monetary (revenue); each dimension scored 1–5 by GLOBAL ntile —
    * computed with [[ScaledRank]]'s range-partitioned two-phase ranking,
    * NOT a single-partition `Window.orderBy`, so the corpus-users-sized
    * relation never funnels through one task. Three sequential rank passes
    * compose on the user-grain relation (each O(N) distributed + an
    * O(#partitions) driver stat); ties broken by user_id so the bucket
    * assignment is deterministic and engine-portable. Output: per-segment
    * user counts and averages. */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val maxDay = e.agg(max(date_trunc("day", col("ts"))).as("max_day"))
    val u = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(date_trunc("day", col("ts"))).as("last_day"),
        count(lit(1)).as("freq"), round(sum(col("value")), 6).as("monetary"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        datediff(col("max_day"), col("last_day")).as("recency"),
        col("freq"), col("monetary"))
    val rankCols = Seq("rn", "rnk", "drnk", "pct_rank")
    def score(df: DataFrame, order: Seq[Column], keys: Seq[Column],
              as: String): DataFrame =
      ScaledRank.withGlobalRanks(df, order, keys, ntileN = 5)
        .withColumnRenamed("ntile_bucket", as).drop(rankCols: _*)
    val scored = score(score(score(u,
        Seq(col("recency").asc, col("user_id").asc),
        Seq(col("recency"), col("user_id")), "r_score"),
        Seq(col("freq").desc, col("user_id").asc),
        Seq(col("freq"), col("user_id")), "f_score"),
        Seq(col("monetary").desc, col("user_id").asc),
        Seq(col("monetary"), col("user_id")), "m_score")
    scored.groupBy(concat(col("r_score").cast("string"), lit("-"),
        col("f_score").cast("string"), lit("-"),
        col("m_score").cast("string")).as("segment"))
      .agg(count(lit(1)).as("users"),
        round(avg(col("recency")), 6).as("avg_recency_days"),
        round(avg(col("monetary")), 6).as("avg_monetary"))
      .orderBy(col("segment"))
  }

  /** Additive seasonal decomposition of the dense hourly load series
    * (STL-lite): trend = centered 25-hour moving average (only where the
    * full window exists), seasonal = hour-of-day mean of the detrended
    * series, residual = the rest — so cnt ≡ trend + seasonal + residual
    * exactly (the identity the spec pins). The spine is gap-filled from
    * `sequence(min, max, 1 hour)` as in [[cusumChangepoint]]; the ordered
    * windows run over the per-hour AGGREGATE, whose cardinality is bounded
    * by wall-clock range, never corpus size (SURVEY §3.2's bounded-series
    * rule), and the 24-row hour-of-day profile is a broadcast join. */
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val bounds = hourly.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val dense = bounds
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("hour"))
      .join(hourly, Seq("hour"), "left")
      .select(col("hour"), coalesce(col("cnt"), lit(0.0)).as("cnt"))
    val w25 = Window.orderBy(col("hour")).rowsBetween(-12, 12)
    val trended = dense
      .withColumn("trend",
        when(count(lit(1)).over(w25) === 25, avg(col("cnt")).over(w25)))
      .filter(col("trend").isNotNull)
      .withColumn("det", col("cnt") - col("trend"))
      .withColumn("hod", hour(col("hour")).cast("int"))
    val profile = trended.groupBy(col("hod"))
      .agg(avg(col("det")).as("seasonal_raw"))
    trended.join(broadcast(profile), "hod")
      .select(unix_micros(col("hour")).as("hour_us"),
        col("cnt").cast("long").as("cnt"),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal_raw"), 6).as("seasonal"),
        round(col("det") - col("seasonal_raw"), 6).as("residual"))
      .orderBy(col("hour_us"))
  }

  /** Theil–Sen robust trend per event type: slope = median of all pairwise
    * slopes of the dense hourly series, intercept = median residual at that
    * slope — the estimator that shrugs off the outlier bursts an OLS line
    * chases (29% breakdown point; Sen 1968). The pair self-join is over the
    * per-type HOURLY AGGREGATE, so pair count is (hours-in-range)² — bounded
    * by wall-clock like every series op here (SURVEY §3.2), NOT corpus size;
    * the hour index is exact integer epoch-hours so both engines compute
    * identical slopes. Per-type slopes re-join as a broadcast for the
    * intercept pass. */
  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .groupBy(col("event_type"),
        // hour-truncated µs are exact multiples of 3.6e9, so the double
        // division is exact and the cast recovers the integer hour index
        (unix_micros(date_trunc("hour", col("ts"))) / lit(3600000000L))
          .cast("long").as("t"))
      .agg(count(lit(1)).cast("double").as("c"))
      .persist() // q-cache
    val slopes = hourly.select(col("event_type"), col("t").as("t1"),
        col("c").as("c1"))
      .join(hourly.select(col("event_type"), col("t").as("t2"),
        col("c").as("c2")), Seq("event_type"))
      .filter(col("t1") < col("t2"))
      .groupBy(col("event_type"))
      .agg(median((col("c2") - col("c1")) / (col("t2") - col("t1")))
        .as("slope"))
    hourly.join(broadcast(slopes), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        round(max(col("slope")), 6).as("slope_per_hour"),
        round(median(col("c") - col("slope") * col("t")), 6).as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Week-over-week revenue growth per market segment — the
    * period-over-period readout every revenue dashboard leads with. One
    * (segment, week) aggregate, then lag over a partition bounded by
    * weeks-in-range (time-bounded, never corpus-bounded); the customer dim
    * broadcasts. First week's growth is NULL by definition on both
    * engines. */
  def wowGrowth(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val weekly = events(s, dir).filter(col("event_type") === "purchase")
      .join(broadcast(cust), "user_id")
      .groupBy(col("segment"), date_trunc("week", col("ts")).as("week"))
      .agg(sum(col("value")).as("rev"))
    val w = Window.partitionBy(col("segment")).orderBy(col("week"))
    weekly.withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("segment"), unix_micros(col("week")).as("week_us"),
        round(col("rev"), 6).as("revenue"),
        round((col("rev") - col("prev")) / col("prev"), 6).as("wow_growth"))
      .orderBy(col("segment"), col("week_us"))
  }

  /** Hourly OHLC candles per event type (open/high/low/close + volume —
    * the time-series compaction finance and metrics stores run): open =
    * first value in (ts, event_id) order, close = last, via two
    * row_number passes sharing ONE (type, hour) exchange (same partition,
    * opposite orders — Catalyst plans one hash exchange + two sorts), then
    * a conditional aggregate. Groups are (type × hour) — time-bounded. */
  def ohlc(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        col("ts"), col("event_id"), col("value"))
    val asc = Window.partitionBy(col("event_type"), col("hour"))
      .orderBy(col("ts"), col("event_id"))
    val desc = Window.partitionBy(col("event_type"), col("hour"))
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(col("event_type"), unix_micros(col("hour")).as("hour_us"))
      .agg(round(max(when(col("rn_a") === 1, col("value"))), 6).as("open"),
        round(max(col("value")), 6).as("high"),
        round(min(col("value")), 6).as("low"),
        round(max(when(col("rn_d") === 1, col("value"))), 6).as("close"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("volume"))
      .orderBy(col("event_type"), col("hour_us"))
  }

  /** Gini coefficient of purchase revenue per market segment (the
    * concentration/inequality readout): G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    * over ascending per-user revenue with rank i. Ranks come from
    * [[ScaledRank.withGroupedRowNumbers]] — the two-phase range-partitioned
    * per-GROUP numbering — because `Window.partitionBy(segment)` hashes
    * each segment to ONE task and segments are corpus-proportional, the
    * exact single-partition trap the repo's ranking ops exist to avoid.
    * Revenue is rounded before ranking so order is engine-portable. */
  def giniRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val u = events(s, dir).filter(col("event_type") === "purchase")
      .join(broadcast(cust), "user_id")
      .groupBy(col("segment"), col("user_id"))
      .agg(round(sum(col("value")), 6).as("x"))
    val ranked = ScaledRank.withGroupedRowNumbers(u, Seq(col("segment")),
      Seq(col("x").asc, col("user_id").asc))
    ranked.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("grn")).as("sxi"))
      .select(col("segment"), col("n").as("n_buyers"),
        round(col("sx"), 6).as("total_revenue"),
        round(lit(2.0) * col("sxi") / (col("n") * col("sx"))
          - (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
      .orderBy(col("segment"))
  }

  /** Weekly churn: users active in week w with NO activity in week w+1 —
    * the (user, week) relation anti-joined against itself shifted one week
    * (a keyed anti join, not a window over per-user history). The final
    * week reports full churn by definition (no following week exists) —
    * kept, since dropping it is a presentation choice both engines must
    * then share. */
  def weeklyChurn(s: SparkSession, dir: String): DataFrame = {
    val wk = events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct().persist() // q-cache
    wk.count() // eager: 3 sibling-stage consumers (see Tables.pinned)
    val churned = wk.join(
        wk.select(col("user_id"),
          (col("week") - expr("INTERVAL 7 DAYS")).as("week")),
        Seq("user_id", "week"), "left_anti")
      .groupBy(col("week")).agg(count(lit(1)).as("n_churned"))
    wk.groupBy(col("week")).agg(count(lit(1)).as("n_active"))
      .join(churned, Seq("week"), "left")
      .select(unix_micros(col("week")).as("week_us"), col("n_active"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        round(coalesce(col("n_churned"), lit(0L)).cast("double")
          / col("n_active"), 6).as("churn_rate"))
      .orderBy(col("week_us"))
  }

  /** Kaplan–Meier survival curve over user lifetimes (days from first to
    * last activity; users still active in the corpus' final week are
    * right-CENSORED — they leave the risk set without counting as an
    * event). S(t) = Π_{death times i ≤ t} (1 − dᵢ/nᵢ), computed as
    * exp(Σ ln(·)) over a running window — products become prefix sums, the
    * same trick as [[cusumChangepoint]]'s closed form. The risk set nᵢ
    * derives from the grouped (lifetime → deaths, censored) table via a
    * running total, so every window runs over DISTINCT lifetimes — bounded
    * by the day range, never user count. The dᵢ = nᵢ terminal point is
    * handled by an explicit zero flag because Spark's ln(0) is NULL while
    * DuckDB's is -inf — the one cross-engine hazard in the formula. */
  def kaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val horizon = e.agg(date_trunc("week", max(col("ts"))).as("lastwk"))
    val life = e.groupBy(col("user_id"))
      .agg(min(date_trunc("day", col("ts"))).as("d0"),
        max(date_trunc("day", col("ts"))).as("d1"))
      .crossJoin(broadcast(horizon))
      .select(datediff(col("d1"), col("d0")).as("t"),
        (col("d1") < col("lastwk")).cast("int").as("death"))
    val grouped = life.groupBy(col("t"))
      .agg(sum(col("death")).as("d"),
        sum(lit(1) - col("death")).as("c"), count(lit(1)).as("m"))
    val wOrd = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = life.agg(count(lit(1)).as("n_total"))
    grouped.crossJoin(broadcast(total))
      .withColumn("n_at_risk",
        col("n_total") - coalesce(sum(col("m")).over(wPrev), lit(0L)))
      .withColumn("zero",
        max((col("d") === col("n_at_risk")).cast("int")).over(wOrd))
      .withColumn("lnterm",
        when(col("d") > 0 && col("d") < col("n_at_risk"),
          log(lit(1.0) - col("d").cast("double") / col("n_at_risk")))
          .otherwise(lit(0.0)))
      .withColumn("survival",
        when(col("zero") === 1, lit(0.0))
          .otherwise(round(exp(sum(col("lnterm")).over(wOrd)), 6)))
      .select(col("t").as("lifetime_days"), col("d").as("deaths"),
        col("c").as("censored"), col("n_at_risk"), col("survival"))
      .orderBy(col("lifetime_days"))
  }

  /** Population stability index (PSI) — the model-monitoring drift score
    * next to [[lengthDrift]]'s KS test: decile edges fit on the REFERENCE
    * period (before the cutoff), both periods bucketed by those edges
    * (same size-filter arithmetic as [[equidepthHistogram]]), per-bucket
    * contribution (qᵢ−pᵢ)·ln(qᵢ/pᵢ) — each term ≥ 0, so the spec pins
    * non-negativity per bucket. Reference deciles guarantee pᵢ > 0; an
    * empty current bucket contributes 0 by explicit CASE on both engines
    * (the ln(0) hazard again). Everything after the two bucketing scans is
    * a 10-row relation. */
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-25").cast("timestamp")
    val e = events(s, dir)
    val edges = e.filter(col("ts") < cutoff).agg(expr(
      "transform(percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), x -> round(x, 6))")
      .as("edges"))
    def bucketed(df: DataFrame, n: String): DataFrame =
      df.crossJoin(broadcast(edges))
        .select(expr("size(filter(edges, x -> value > x))").cast("long")
          .as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(n))
    val joined = bucketed(e.filter(col("ts") < cutoff), "n_ref")
      .join(bucketed(e.filter(col("ts") >= cutoff), "n_cur"),
        Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing) // ≤10 rows — bounded by decile count
    val p = col("n_ref").cast("double") / sum(col("n_ref")).over(w)
    val q = col("n_cur").cast("double") / sum(col("n_cur")).over(w)
    joined
      .withColumn("p_ref", round(p, 6))
      .withColumn("p_cur", round(q, 6))
      .withColumn("psi_term",
        when(col("n_cur") > 0 && col("n_ref") > 0,
          round((q - p) * log(q / p), 6)).otherwise(lit(0.0)))
      .select(col("bucket"), col("n_ref"), col("n_cur"), col("p_ref"),
        col("p_cur"), col("psi_term"))
      .orderBy(col("bucket"))
  }

  /** Mutual information between market segment and conversion — the
    * feature-screening statistic (does this categorical carry signal?):
    * per-cell contribution p(x,y)·ln(n_xy·N / (n_x·n_y)), marginals via
    * windows over the ≤ |segments|×2 cell relation. The integer products
    * inside ln make the argument exactly equal on both engines. MI = Σ
    * contributions ≥ 0 is pinned in the spec (it is a KL divergence). */
  def conversionMi(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val assign = events(s, dir).join(broadcast(cust), "user_id")
      .groupBy(col("user_id"), col("segment"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150.0,
        1).otherwise(0)).as("converted"))
    val cells = assign.groupBy(col("segment"), col("converted"))
      .agg(count(lit(1)).as("n_xy"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wx = Window.partitionBy(col("segment"))
    val wy = Window.partitionBy(col("converted"))
    cells
      .withColumn("n", sum(col("n_xy")).over(wAll))
      .withColumn("n_x", sum(col("n_xy")).over(wx))
      .withColumn("n_y", sum(col("n_xy")).over(wy))
      .select(col("segment"), col("converted"), col("n_xy"),
        round(col("n_xy").cast("double") / col("n"), 6).as("p_xy"),
        round((col("n_xy").cast("double") / col("n")) *
          log((col("n_xy") * col("n")).cast("double") /
            (col("n_x") * col("n_y")).cast("double")), 6).as("mi_term"))
      .orderBy(col("segment"), col("converted"))
  }

  /** Built-in linear-regression aggregate family (`regr_*`): per event
    * type, the OLS fit of value on hour-of-day — slope, intercept, R²,
    * and the paired-non-null count, all computed in ONE map-side-combinable
    * aggregate pass (the regr_* aggregates are sum/count compositions, so
    * partial aggregation applies exactly like `sum`). No window, no join;
    * at 100 TB this is a single shuffle of 5 groups × constant state. */
  def regrFuncs(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        hour(col("ts")).cast("double").as("hr"), col("value"))
      .groupBy(col("event_type"))
      .agg(
        round(expr("regr_slope(value, hr)"), 6).as("slope"),
        round(expr("regr_intercept(value, hr)"), 6).as("intercept"),
        round(expr("regr_r2(value, hr)"), 6).as("r2"),
        expr("regr_count(value, hr)").as("n"))
      .orderBy(col("event_type"))

  /** Pearson chi-square independence test of market segment × order
    * status: the contingency table is a 15-cell aggregate, margins come
    * from windows OVER THAT AGGREGATE (never the raw join), and the
    * statistic folds to one row with its degrees of freedom. The join
    * customer⋈orders shuffles on custkey once; everything after runs on
    * ≤ |segments|×|statuses| rows. */
  def chisqTest(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("n_xy"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val expd = cells
      .withColumn("n", sum(col("n_xy")).over(wAll))
      .withColumn("n_x", sum(col("n_xy")).over(Window.partitionBy(col("seg"))))
      .withColumn("n_y", sum(col("n_xy")).over(Window.partitionBy(col("st"))))
      .withColumn("e",
        (col("n_x") * col("n_y")).cast("double") / col("n"))
    expd.agg(
        round(sum(pow(col("n_xy") - col("e"), 2) / col("e")), 6).as("chi2"),
        ((countDistinct(col("seg")) - 1) *
          (countDistinct(col("st")) - 1)).as("dof"),
        max(col("n")).as("n"))
  }

  /** Lagged cross-correlation between the per-minute click and purchase
    * series (does click volume lead purchases?): both series come from ONE
    * conditional-aggregate scan at minute grain, the lag alignment is an
    * equi join on (minute + lag) per candidate lag 0..5 — a 6× explode of
    * the MINUTE AGGREGATE (not the raw events), so the joined relation is
    * bounded by 6 × minutes regardless of corpus size. Pearson corr per
    * lag, rounded; minutes where either series is absent count as zero
    * volume via the inner join on observed minutes only. */
  def crossCorr(s: SparkSession, dir: String): DataFrame = {
    val perMin = events(s, dir)
      .withColumn("m",
        (unix_micros(date_trunc("minute", col("ts"))) / lit(60000000L))
          .cast("long"))
      .groupBy(col("m"))
      .agg(
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("clicks"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("purchases"))
    val lags = s.range(0, 6).select(col("id").cast("int").as("lag"))
    val a = perMin.select(col("m"), col("clicks"))
    val b = perMin.select(col("m").as("mb"), col("purchases"))
    a.crossJoin(broadcast(lags))
      .join(b, col("mb") === col("m") + col("lag"))
      .groupBy(col("lag"))
      .agg(round(corr(col("clicks"), col("purchases")), 6).as("xcorr"),
        count(lit(1)).as("n_pairs"))
      .orderBy(col("lag"))
  }

  /** Interval-union coverage (classic gaps-and-islands): each event opens
    * a 5-minute activity interval; per user, merge every overlapping
    * interval and report how many disjoint islands remain and the exact
    * covered microseconds — the "total active time without double
    * counting" metric naive sum-of-durations gets wrong. An interval
    * starts a new island iff its start exceeds the running max of all
    * PRIOR interval ends (rows-frame window), islands number by running
    * sum of that flag — so the whole merge is two stacked windows over ONE
    * hash-by-user exchange plus two bounded aggregates. Exact integer
    * microsecond arithmetic end to end; no float, no engine drift. */
  def intervalUnion(s: SparkSession, dir: String): DataFrame = {
    val iv = events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("st"),
      (unix_micros(col("ts")) + lit(300000000L)).as("en"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("st"), col("en"))
    val prevMax = max(col("en"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("new_island",
        when(prevMax.isNull || col("st") > prevMax, 1).otherwise(0))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("ien") - col("ist")).as("covered_us"))
      .orderBy(col("user_id"))
  }

  /** Peak concurrency by sweep line: every event opens a 5-minute
    * interval; +1/−1 boundary deltas, summed in global (time, delta, id)
    * order, give the instantaneous concurrency, whose max is the answer
    * ("how many sessions were open at the worst moment" — capacity
    * planning's first question). The global running sum is
    * [[ScaledRank.withGlobalCumSum]] — range exchange + local pass +
    * O(#partitions) offsets, NOT a single-partition Window.orderBy, so the
    * sweep scales to any corpus. Ends sort before starts at the same
    * instant (delta −1 < +1), making the intervals half-open — adjacent
    * intervals never double-count. */
  def peakConcurrency(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("st"))
    val deltas = ev.select(col("st").as("t"), lit(1).as("delta"), col("event_id"))
      .union(ev.select((col("st") + lit(300000000L)).as("t"),
        lit(-1).as("delta"), col("event_id")))
    val conc = ScaledRank.withGlobalCumSum(deltas,
      Seq(col("t"), col("delta"), col("event_id")), col("delta"))
    val mx = conc.agg(max(col("cumsum")).as("peak"))
    conc.join(broadcast(mx), col("cumsum") === col("peak"))
      .agg(max(col("peak")).as("peak"), min(col("t")).as("peak_at_us"))
  }

  /** Discrete-Fourier periodogram over event arrival minutes: spectral
    * power at a fixed grid of candidate periods (minutes) — the standard
    * seasonality detector for load series (hourly/6h/12h/daily harmonics
    * plus two non-harmonic controls). Power_p = (Σ cos 2πm/p)² +
    * (Σ sin 2πm/p)² summed PER EVENT, so the whole query is one explode
    * (|periods| = 6 rows per event) and one 6-group aggregate with
    * map-side combine — no window, no self-join, linear in the event log
    * and embarrassingly partition-parallel at 100 TB. Minute index, 2π
    * scaling, and association order are spelled identically in both
    * engines so the cos/sin arguments are bit-identical doubles; the
    * power is rounded to 3 dp to absorb the ≤1-ulp libm delta and
    * summation-order drift (power ~1e8, accumulated error ≲1e-6). */
  def periodogram(s: SparkSession, dir: String): DataFrame = {
    // minutes since 2024-01-01T00:00Z (fixture epoch) — exact integer:
    // µs-grain timestamps keep floor(x/6e7) ≥ 1.7e-8 away from integer
    // boundaries, far beyond the division's 7.5e-9 ulp.
    val base = 28401120L
    periodogramOn(
      events(s, dir)
        .select((floor(unix_micros(col("ts")) / lit(60000000.0)).cast("long")
          - base).as("m")),
      Seq(7, 60, 97, 360, 720, 1440))
  }

  /** Core of `periodogram` over a pre-extracted minute-index relation —
    * split out so specs can feed crafted impulse trains with known
    * spectra. */
  private[graft] def periodogramOn(minutes: DataFrame,
      periods: Seq[Int]): DataFrame =
    minutes
      .select(col("m"),
        explode(array(periods.map(lit): _*)).as("period"))
      .withColumn("theta", lit(2.0) * lit(math.Pi) * col("m") / col("period"))
      .groupBy(col("period"))
      .agg(count(lit(1)).as("n_events"),
        sum(cos(col("theta"))).as("sc"),
        sum(sin(col("theta"))).as("ss"))
      .select(col("period"), col("n_events"),
        round(col("sc") * col("sc") + col("ss") * col("ss"), 3).as("power"))
      .orderBy(col("period"))

  /** Grid-bucketed spatial self-join (the geohash pattern): deterministic
    * lat/lon derived per customer (md5 over a ±5° lattice — the testdata
    * carries no coordinates, so position is a committed pure function of
    * the key), bucketed into 1°×1° cells; candidate pairs come from an
    * equi join of each point's 3×3 neighbor cells against cell owners —
    * never an all-pairs distance join — then exact haversine ≤ 30 km
    * filters and a per-cell aggregate summarizes. The lattice quantizes
    * distances ≥ 1.39 km away from the threshold (probed at every SF), so
    * last-ulp libm differences can never flip membership. At 100 TB the
    * cell edge tracks the radius (edge ≥ radius ⇒ 9 cells suffice) and
    * cells shard evenly by construction. */
  def geoPairs(s: SparkSession, dir: String): DataFrame = {
    def h(tag: String): Column =
      conv(substring(md5(concat(lit(tag), col("c_custkey").cast("string"))),
        1, 7), 16, 10).cast("long")
    val cells = Tables(s, dir, "customer").select(
        col("c_custkey").as("id"),
        ((h("lat-") % 100).cast("double") / 10.0 - 5.0).as("lat"),
        ((h("lon-") % 100).cast("double") / 10.0 - 5.0).as("lon"))
      .withColumn("cx", floor(col("lat")).cast("int"))
      .withColumn("cy", floor(col("lon")).cast("int"))
    // widen the probe side only (guide §2.6): the 9-cell fanout and the
    // haversine verification run on the probe partitioning, serial off a
    // single-row-group fixture scan; the cell-owner side rides the
    // broadcast and stays narrow.
    val probes = Tables.widen(cells)
      .select(col("id"), col("lat"), col("lon"), col("cx"), col("cy"),
        explode(expr("array(-1, 0, 1)")).as("dx"))
      .select(col("id"), col("lat"), col("lon"),
        (col("cx") + col("dx")).as("jx"), col("cy"),
        explode(expr("array(-1, 0, 1)")).as("dy"))
      .select(col("id"), col("lat"), col("lon"), col("jx"),
        (col("cy") + col("dy")).as("jy"))
    val cand = probes.alias("a").join(cells.alias("b"),
      col("a.jx") === col("b.cx") && col("a.jy") === col("b.cy") &&
        col("a.id") < col("b.id"))
    val dLat = radians(col("b.lat") - col("a.lat")) / 2
    val dLon = radians(col("b.lon") - col("a.lon")) / 2
    val km = lit(12742.0) * asin(sqrt(
      sin(dLat) * sin(dLat) +
        cos(radians(col("a.lat"))) * cos(radians(col("b.lat"))) *
          sin(dLon) * sin(dLon)))
    cand.select(col("b.cx").as("cx"), col("b.cy").as("cy"), km.as("km"))
      .where(col("km") <= 30.0)
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("n_pairs"), round(min(col("km")), 6).as("min_km"),
        round(avg(col("km")), 6).as("avg_km"))
      .orderBy("cx", "cy")
  }

  /** Grid-DBSCAN (density-based clustering, the cell/STING approximation
    * that scales): points land on a deterministic BIMODAL lattice (each
    * axis a quadratic md5 transform toward one of two ends — a density
    * gradient that survives any corpus size, unlike uniform noise whose
    * relative fluctuations vanish as n grows), cells aggregate counts, a
    * cell is CORE when its 3×3 neighborhood holds ≥ 10 % of all mass
    * (exact integer compare, corpus-relative so the clustering is
    * SF-invariant: 4 corner clusters at every test SF), and clusters are
    * connected components of adjacent core cells via
    * [[Curation.connectedComponents]] (pointer-jumping min-label, loud
    * non-convergence). All heavy work is ONE grouped pass over points;
    * everything after operates on ≤ 100 cell rows. Oracle: the same
    * pipeline with a recursive-CTE closure in DuckDB. */
  def gridDbscan(s: SparkSession, dir: String): DataFrame = {
    def coordCol(tag: String): Column = {
      val h = conv(substring(md5(concat(lit(s"$tag-"),
        col("c_custkey").cast("string"))), 1, 7), 16, 10).cast("long")
      val m = (h % 100).cast("double")
      when(h % 2 === 0, m * m / 2000.0 - 5.0)
        .otherwise(lit(4.999) - m * m / 2000.0)
    }
    val cells = Tables(s, dir, "customer")
      .select(floor(coordCol("lat")).cast("int").as("cx"),
        floor(coordCol("lon")).cast("int").as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum(col("n")).as("t"))
    val probes = cells
      .select(col("cx"), col("cy"), col("n"),
        explode(expr("array(-1, 0, 1)")).as("dx"))
      .select(col("cx"), col("cy"), col("n"),
        (col("cx") + col("dx")).as("jx"),
        explode(expr("array(-1, 0, 1)")).as("dy"))
      .select(col("cx"), col("cy"), col("n"), col("jx"),
        (col("cy") + col("dy")).as("jy"))
    val neigh = probes.alias("a")
      .join(cells.select(col("cx").as("bx"), col("cy").as("by"),
        col("n").as("bn")), col("jx") === col("bx") && col("jy") === col("by"))
      .groupBy(col("a.cx"), col("a.cy"))
      .agg(max(col("a.n")).as("n"), sum(col("bn")).as("nn"))
    val core = neigh.crossJoin(broadcast(tot))
      .where(col("nn") * 100 >= col("t") * 10)
      .select(col("cx"), col("cy"), col("n"),
        ((col("cx") + 5) * 10 + col("cy") + 5).cast("long").as("cid"))
      .persist() // q-cache
    val edges = core.alias("a").join(
        core.select(col("cid").as("cid2"), col("cx").as("bx"),
          col("cy").as("by")),
        abs(col("a.cx") - col("bx")) <= 1 && abs(col("a.cy") - col("by")) <= 1
          && col("a.cid") =!= col("cid2"))
      .select(col("a.cid").as("id1"), col("cid2").as("id2"))
    val labels = Curation.connectedComponents(
      core.select(col("cid").as("id")), edges)
    core.join(labels, core("cid") === labels("id"))
      .groupBy(col("lab").as("cluster"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_points"),
        min(col("cx")).as("min_cx"), max(col("cx")).as("max_cx"),
        min(col("cy")).as("min_cy"), max(col("cy")).as("max_cy"))
      .orderBy("cluster")
  }

  /** Minimum co-purchase support / result size for [[itemCf]]. */
  private val CfMinCo = 2
  private val CfTopN = 50

  /** Basket-size cap, enforced BEFORE the pair self-join (r13 verdict
    * task 3 — the O(Σ basket²) bound was previously a comment, not
    * code): one bot customer with a 10⁶-item basket is a single-key
    * quadratic blowup at 100 TB, so a basket keeps at most this many
    * items (deterministic: the lowest item ids — the Linden '03
    * production guard; a capped bot basket is noise either way). The cap
    * is provably INACTIVE on the fixtures: the max fixture basket is 105
    * (AnalyticsSpec asserts < cap), and every `q_item_cf`/`q_user_recs`
    * gate hash is unchanged with the cap live — cap ≡ plain, the
    * `q_hybrid_skew_join` proof pattern. BASELINE.md measures the capped
    * plan flat on the ScaleGen `hotkey` fixture where the uncapped one
    * blows up. Env override is the measurement knob, not a config. */
  private[graft] def cfBasketCap: Int =
    sys.env.get("SPARK_GRAFT_CF_CAP").map(_.toInt).getOrElse(256)

  /** Item–item collaborative filtering over the order history — the
    * "customers who bought X also bought Y" primitive (Linden et al.,
    * IEEE Internet Computing 2003, Amazon item-to-item CF). Baskets are
    * per-customer DISTINCT part sets (orders ⋈ lineitem); a basket
    * self-join generates co-purchase pairs, and each surviving pair is
    * scored with set cosine co / √(n_a·n_b) — exact integer counts, so
    * fully oracle-checkable.
    *
    * 100 TB shape: the basket relation shuffles once on customer; pair
    * generation is the per-key self-join, O(Σ basket²) — bounded because
    * baskets are per-CUSTOMER (human-scale, hundreds not millions; a
    * pathological bot basket would be capped upstream the same way
    * [[TextOps]] caps hub shingles). The pair aggregate is
    * map-side-combined on (i1, i2); item totals are an items-sized dim
    * broadcast back onto the surviving pairs; the final top-N rides
    * TakeOrderedAndProject, not a global sort. */
  /** Per-customer distinct (cust, item) purchase sets, capped at
    * [[cfBasketCap]] items. Cap cost (plan-audited r14): Spark rewrites
    * the rank filter into WindowGroupLimit — a PARTIAL per-group limit
    * runs map-side BEFORE the window's cust shuffle, so no partition
    * ever materializes an uncapped bot basket; the guard adds one hash
    * repartition + in-partition sort of the already-deduped (cust, item)
    * relation (the join re-shuffles after the cache boundary either
    * way). Measured: `q_item_cf` median unchanged vs its quiet baseline,
    * gate hashes unchanged. */
  private[graft] def baskets(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cust")).orderBy(col("item"))
    val bk = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
      .distinct()
      .withColumn("_bn", row_number().over(w))
      .filter(col("_bn") <= cfBasketCap)
      .drop("_bn")
      .persist() // q-cache
    // r15-opt: eagerly materialized after all. The r14 revert traded the
    // multi-consumer block-lock race (itemCnt + both pair-join sides race
    // into the uncomputed cache and serialize, inflating task time ~10x)
    // for plan stability, because accurate tiny-cache stats flipped the
    // pair self-join to a broadcast cascade. The join strategies are now
    // PINNED by explicit hints in [[coCosine]]/[[userRecs]], so accurate
    // stats can no longer re-plan anything — the eager count is pure win
    // (plans byte-identical across runs).
    bk.count() // eager: up to 5 sibling-stage consumers (see Tables.pinned note)
    bk
  }

  /** All co-purchase pairs at min support with their set cosine —
    * the shared model relation behind [[itemCf]] and [[userRecs]]. */
  private def coCosine(bk: DataFrame): DataFrame = {
    val itemCnt = bk.groupBy(col("item")).agg(count(lit(1)).as("n"))
    val a = bk.select(col("cust"), col("item").as("i1"))
    val b = bk.select(col("cust"), col("item").as("i2"))
    // SHUFFLE_HASH pinned (guide §3.1): the per-cust basket self-join must
    // never ride a broadcast — at scale neither side fits, and at fixture
    // scale the eagerly-cached bk's accurate tiny stats would flip it to a
    // BHJ cascade run-to-run (the r14 q_user_recs 7->13-17 s bimodality).
    // Hash beats sort-merge here: per-partition build sides are basket
    // fragments, far under memory, and the sort adds nothing.
    val co = a.join(b.hint("shuffle_hash"), Seq("cust"))
      .filter(col("i1") < col("i2"))
      .groupBy(col("i1"), col("i2")).agg(count(lit(1)).as("co"))
      .filter(col("co") >= CfMinCo)
    co.join(broadcast(itemCnt.select(col("item").as("i1"), col("n").as("n1"))), Seq("i1"))
      .join(broadcast(itemCnt.select(col("item").as("i2"), col("n").as("n2"))), Seq("i2"))
      .withColumn("cosine",
        round(col("co") / sqrt(col("n1") * col("n2")), 6))
  }

  def itemCf(s: SparkSession, dir: String): DataFrame =
    coCosine(baskets(s, dir))
      .select(col("i1"), col("i2"), col("co"), col("n1"), col("n2"),
        col("cosine"))
      .orderBy(col("cosine").desc, col("i1"), col("i2"))
      .limit(CfTopN)

  /** Batch recommendation inference on top of the [[itemCf]] model —
    * the nightly scoring job a recsys actually ships: for each customer
    * in the audience (custkey < 500), every neighbor of an owned item is
    * a candidate, its score the SUM of item-item cosines over the owned
    * items that vouch for it (Linden et al.'s aggregation), already-owned
    * items anti-joined away, top-3 per customer kept. Sum-of-6-dp-cosines
    * is engine-stable at 6 dp output rounding.
    *
    * Shape: audience baskets ⋈ the symmetrized pair model on item (the
    * model is the co-pair relation, NOT corpus-sized per user), one
    * (cust, candidate) aggregate, an owned anti-join, and a per-customer
    * window top-3. */
  def userRecs(s: SparkSession, dir: String): DataFrame = {
    val bk = baskets(s, dir)
    // r15-opt: localCheckpoint, not persist. It materializes EAGERLY (the
    // symmetrization's two branches then read computed blocks instead of
    // racing into a lazy InMemoryRelation and serializing on its block
    // locks), it cuts the O(Σ basket²) lineage so the pair join provably
    // runs once, and — unlike an eagerly-counted cache — a checkpointed
    // LogicalRDD reports no tiny size statistic, so the planner cannot
    // re-plan the downstream joins into the 60-BHJ cascade that doubled
    // wall run-to-run at r14 (7 -> 13-17 s bimodal). Join strategies below
    // are additionally pinned by explicit hints, belt and braces.
    val model = coCosine(bk).localCheckpoint()
    val sym = model.select(col("i1").as("owned"), col("i2").as("cand"),
        col("cosine"))
      .unionAll(model.select(col("i2").as("owned"), col("i1").as("cand"),
        col("cosine")))
    val audience = bk.filter(col("cust") < 500)
    // the audience is the bounded side by construction (custkey < 500) —
    // broadcast it DELIBERATELY (guide §3.1); sym is model-sized and must
    // shuffle at scale, so the anti-join below is pinned shuffle-hash
    // rather than left to size estimates.
    val scores = broadcast(audience.withColumnRenamed("item", "owned"))
      .join(sym, "owned")
      .groupBy(col("cust"), col("cand"))
      .agg(round(sum(col("cosine")), 6).as("score"),
        count(lit(1)).as("n_vouchers"))
      .join(bk.select(col("cust"), col("item").as("cand")).hint("shuffle_hash"),
        Seq("cust", "cand"), "left_anti")
    val w = Window.partitionBy(col("cust"))
      .orderBy(col("score").desc, col("cand"))
    scores.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("cust"), col("rk").cast("int").as("rk"), col("cand"),
        col("score"), col("n_vouchers"))
      .orderBy(col("cust"), col("rk"))
  }

  /** Delete-one-group jackknife (Tukey 1958; the grouped form survey
    * statisticians run when rows are clustered): for the mean order value,
    * drop each nation in turn, recompute the mean on what remains, and
    * derive pseudovalues plus the jackknife standard error from the
    * spread of the deletion estimates — uncertainty quantification with
    * NO resampling randomness, so it is exactly reproducible and fully
    * oracle-checkable (money sums ride the exact decimal(18,2) path
    * before any double division, the [[Relational.decimalExact]]
    * convention).
    *
    * Scale shape: ONE grouped pass over the fact (per-nation sum/count),
    * a 1-row totals broadcast, and all deletion estimates computed
    * algebraically as (S−S_g)/(N−n_g) — the naive "re-aggregate G times"
    * formulation never runs; the final windows range over G = 25 rows. */
  def jackknife(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    val tot = o.agg(sum(col("p")).as("s_all"), count(lit(1)).as("n_all"))
    val byG = o.groupBy(col("nation"))
      .agg(sum(col("p")).as("s_g"), count(lit(1)).as("n_g"))
    val wAll = Window.partitionBy(lit(1))
    byG.crossJoin(broadcast(tot))
      .withColumn("mean_excl",
        round((col("s_all") - col("s_g")).cast("double")
          / (col("n_all") - col("n_g")), 6))
      .withColumn("g", count(lit(1)).over(wAll))
      .withColumn("pseudovalue",
        round(col("g") * col("s_all").cast("double") / col("n_all")
          - (col("g") - 1) * col("mean_excl"), 6))
      .withColumn("jk_se",
        round(sqrt((col("g") - 1).cast("double") / col("g")
          * sum(pow(col("mean_excl") - avg(col("mean_excl")).over(wAll), 2))
            .over(wAll)), 6))
      .select(col("nation"), col("n_g"), col("mean_excl"),
        col("pseudovalue"), col("jk_se"))
      .orderBy(col("nation"))
  }

  /** Difference-in-differences estimator (Card & Krueger 1994 two-period
    * two-group form) over the event stream: outcome = mean event value,
    * periods split at mid-month, treatment assignment by the committed
    * deterministic rule user_id % 3 = 0 (a real pipeline reads the
    * experiment's assignment table; the estimator is the operator under
    * test). Emits the 2×2 cell means plus the DiD point estimate and its
    * unpooled two-sample standard error — the parallel-trends-adjusted
    * causal read a growth team runs on every rollout.
    *
    * Shape: one scan, CASE-bucketed into 4 cells, a single
    * map-side-combined aggregate (count/sum/sumsq per cell), then all
    * estimator algebra over the 4-row relation — nothing after the first
    * aggregate is corpus-sized. */
  def did(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
    val cells = events(s, dir)
      .select((col("user_id") % 3 === 0).as("treated"),
        (col("ts") >= cut).as("post"), col("value"))
      .groupBy(col("treated"), col("post"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("m"),
        (sum(col("value") * col("value")) / count(lit(1))
          - pow(avg(col("value")), 2)).as("v"))
    val w = Window.partitionBy(lit(1))
    def cell(t: Boolean, p: Boolean, c: Column): Column =
      max(when(col("treated") === t && col("post") === p, c)).over(w)
    cells
      .withColumn("did", round(
        (cell(true, true, col("m")) - cell(true, false, col("m")))
          - (cell(false, true, col("m")) - cell(false, false, col("m"))), 6))
      .withColumn("se", round(sqrt(
        cell(true, true, col("v")) / cell(true, true, col("n"))
          + cell(true, false, col("v")) / cell(true, false, col("n"))
          + cell(false, true, col("v")) / cell(false, true, col("n"))
          + cell(false, false, col("v")) / cell(false, false, col("n"))), 6))
      .select(col("treated"), col("post"), col("n"),
        round(col("m"), 6).as("mean_value"), col("did"), col("se"))
      .orderBy(col("treated"), col("post"))
  }

  /** SPRT log-likelihood increments in exact integer micro-nats —
    * committed so the running sum is integer arithmetic on both engines:
    * round(ln(0.6/0.5)·10⁶), round(ln(0.4/0.5)·10⁶), round(ln 19·10⁶)
    * for α = β = 0.05. */
  private val SprtUp = 182322L
  private val SprtDown = -223144L
  private val SprtBound = 2944439L

  /** Wald's sequential probability ratio test (Wald 1945) — the
    * anytime-valid A/B monitor that lets an experimenter peek
    * continuously without alpha inflation: each purchase event is a
    * Bernoulli trial (value > 50), the running log-likelihood ratio of
    * H1 (p=0.6) vs H0 (p=0.5) accumulates the committed micro-nat
    * increments, and the test decides at the first crossing of ±ln 19.
    * Emits every-250th-trial probe points plus the decision row, so the
    * oracle hash-checks the whole trajectory shape AND the stopping
    * time, not a final verdict.
    *
    * Shape: the running LLR is [[ScaledRank.withGlobalCumSum]] over
    * exact integers (range exchange + local prefix pass + O(#partitions)
    * offsets — no single-partition window), trial ordinals ride
    * [[ScaledRank.withGroupedRowNumbers]], and the stopping time is a
    * 1-row min broadcast back onto the probe filter. */
  def sprt(s: SparkSession, dir: String): DataFrame = {
    val trials = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        when(col("value") > 50, SprtUp).otherwise(SprtDown).as("inc"))
    val cum = ScaledRank.withGlobalCumSum(trials, Seq(col("event_id")),
      col("inc"))
    val numbered = ScaledRank.withGroupedRowNumbers(
      cum.withColumn("g", lit(1)), Seq(col("g")), Seq(col("event_id")))
    val cross = numbered.filter(abs(col("cumsum")) >= SprtBound)
      .agg(coalesce(min(col("grn")), lit(Long.MaxValue)).as("cross_trial"))
    numbered.crossJoin(broadcast(cross))
      .filter(col("grn") % 250 === 0 || col("grn") === col("cross_trial"))
      .select(col("grn").as("trial_no"),
        round(col("cumsum").cast("double") / 1000000.0, 6).as("llr"),
        when(col("cumsum") >= SprtBound, "accept_h1")
          .when(col("cumsum") <= -SprtBound, "accept_h0")
          .otherwise("continue").as("state"),
        (col("grn") === col("cross_trial")).as("is_decision"))
      .orderBy(col("trial_no"))
  }

  /** Bot/automation detection from traffic shape — the filter the
    * reference's "unique visitors" goal needs before counting humans: a
    * scripted client's inter-arrival gaps are too REGULAR (coefficient
    * of variation ≪ 1; a Poisson human is ≈ 1) or its sustained rate too
    * high. Emits per-user gap statistics with both flags for every user
    * with ≥ 20 events — the full evidence table, not just the verdict.
    * One hash-by-user exchange for the lag window, then a per-user
    * aggregate; thresholds are committed (CV < 0.3, > 5 events/min). */
  def botFlags(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val gaps = events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("gap",
        (col("ts_us") - lag(col("ts_us"), 1).over(w)).cast("double"))
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        rhu(avg(col("gap")) / 1e6, 6).as("mean_gap_s"),
        rhu(stddev_pop(col("gap")) / 1e6, 6).as("sd_gap_s"),
        // integer-floor seconds, matching the oracle's `//` exactly — the
        // double-division span differed below the comparator's 9-digit
        // rounding for years and only surfaced through rate_per_min's
        // 6-dp boundary at sf0.1 (r14 sweep)
        expr("(max(ts_us) - min(ts_us)) div 1000000").as("span_s"))
      .filter(col("n_events") >= 20)
      .withColumn("cv", rhu(col("sd_gap_s") / col("mean_gap_s"), 6))
      .withColumn("rate_per_min",
        rhu(col("n_events") * 60.0 / col("span_s"), 6))
      .withColumn("flag_regular", col("cv") < 0.3)
      .withColumn("flag_rate", col("rate_per_min") > 5.0)
      .select(col("user_id"), col("n_events"), col("mean_gap_s"),
        col("sd_gap_s"), col("cv"), col("rate_per_min"),
        col("flag_regular"), col("flag_rate"))
      .orderBy(col("user_id"))
  }

  /** Wilson lower-confidence-bound ranking (Wilson 1927; the "how not to
    * sort by average rating" fix): order part brands by the LOWER bound
    * of their return-rate interval instead of the raw rate, so a brand
    * with 3/3 returns does not outrank one with 95/100 — small samples
    * get pulled toward the prior. z = 1.96 committed; all inputs are
    * exact integer counts, so the algebra is engine-identical. One
    * broadcast-dim join + one grouped pass over the fact. */
  def wilsonRank(s: SparkSession, dir: String): DataFrame = {
    val z = 1.96
    val base = Tables(s, dir, "lineitem")
      .join(broadcast(Tables(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
    val p = col("r").cast("double") / col("n")
    val z2n = lit(z * z) / col("n")
    base
      .withColumn("p_hat", round(p, 6))
      .withColumn("wilson_lcb", round(
        (p + z2n / 2 - lit(z) * sqrt(p * (lit(1.0) - p) / col("n")
          + lit(z * z) / (lit(4.0) * col("n") * col("n"))))
          / (lit(1.0) + z2n), 6))
      .select(col("brand"), col("n"), col("r"), col("p_hat"),
        col("wilson_lcb"))
      .orderBy(col("wilson_lcb").desc, col("brand"))
  }

  /** A/B sample-size calculator (two-proportion z-test power analysis)
    * fed by MEASURED baseline conversion: p₁ = purchase share of events,
    * MDE = +1pp absolute, α = .05 two-sided, power = .8 (z constants
    * committed to 6 dp). n/arm = (z_α√(2p̄q̄) + z_β√(p₁q₁+p₂q₂))²/δ² —
    * the number a growth team reads before launching the experiment the
    * [[did]]/[[sprt]] queries later analyze. One aggregate → 1-row
    * algebra. */
  def abPower(s: SparkSession, dir: String): DataFrame = {
    val za = 1.959964
    val zb = 0.841621
    val delta = 0.01
    val base = events(s, dir).agg(
      count(lit(1)).as("n_events"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_purchase"))
    val p1 = col("n_purchase").cast("double") / col("n_events")
    val p2 = p1 + delta
    val pbar = (p1 + p2) / 2
    val nArm = pow(
      lit(za) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar))
        + lit(zb) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2)),
      2) / lit(delta * delta)
    base.select(
      round(p1, 6).as("p_baseline"),
      lit(delta).as("mde_abs"),
      ceil(nArm).cast("long").as("n_per_arm"),
      ceil(nArm * 2).cast("long").as("n_total"))
  }

  /** Erlang-C capacity planning (Erlang 1917; the M/M/c wait-probability
    * formula every on-call capacity review still uses): measure the PEAK
    * per-minute arrival rate from the event stream, convert to offered
    * load A = λ·service-time erlangs (committed 10 s service budget),
    * and for each fleet size c compute the probability an arrival has to
    * queue — the smallest c with P(wait) < 0.2 is the capacity answer.
    * A^k/k! terms use exact `factorial` (integers ≤ 12! — exact in both
    * engines) and `pow`, so the 12-row algebra is engine-stable at 6 dp.
    * Everything after the per-minute aggregate is a 12·c-row relation. */
  def erlangC(s: SparkSession, dir: String): DataFrame = {
    val peak = events(s, dir)
      .groupBy(date_trunc("minute", col("ts")).as("m"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("peak_per_min"))
    val a = peak.select(col("peak_per_min"),
      (col("peak_per_min") / 60.0 * 10.0).as("a"))
    val byC = a.select(col("peak_per_min"), col("a"),
      explode(sequence(lit(1), lit(12))).as("c"))
    val terms = byC
      .select(col("peak_per_min"), col("a"), col("c"),
        explode(sequence(lit(0), col("c") - 1)).as("k"))
      .withColumn("t", pow(col("a"), col("k"))
        / factorial(col("k")).cast("double"))
      .groupBy(col("peak_per_min"), col("a"), col("c"))
      .agg(sum(col("t")).as("s0"))
    terms
      .withColumn("tc", pow(col("a"), col("c"))
        / factorial(col("c")).cast("double"))
      .withColumn("rho", col("a") / col("c"))
      .withColumn("p_wait", round(
        when(col("rho") >= 1.0, 1.0)
          .otherwise(col("tc")
            / (col("tc") + (lit(1.0) - col("rho")) * col("s0"))), 6))
      .select(col("c").cast("int").as("c"), col("peak_per_min"),
        round(col("a"), 6).as("a_erlangs"), round(col("rho"), 6).as("rho"),
        col("p_wait"), (col("p_wait") < 0.2).as("meets_slo"))
      .orderBy(col("c"))
  }

  /** Abramowitz & Stegun 7.1.26 normal-tail helper: committed 5-term erf
    * polynomial, so two-sided p-values are pure arithmetic both engines
    * compute identically (no engine erf needed). Returns
    * p = 2·(1 − Φ(|z|)). */
  private def pTwoSided(z: Column): Column = {
    val x = abs(z) / sqrt(lit(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = (lit(0.254829592) * t - lit(0.284496736) * t * t
      + lit(1.421413741) * t * t * t - lit(1.453152027) * t * t * t * t
      + lit(1.061405429) * t * t * t * t * t)
    val erf = lit(1.0) - poly * exp(-x * x)
    lit(1.0) - erf
  }

  private def pTwoSidedSql(z: String): String = {
    val x = s"(abs($z) / sqrt(2.0))"
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    s"""(1.0 - (1.0 - (0.254829592 * $t - 0.284496736 * $t * $t
       | + 1.421413741 * $t * $t * $t - 1.453152027 * $t * $t * $t * $t
       | + 1.061405429 * $t * $t * $t * $t * $t) * exp(-$x * $x)))"""
      .stripMargin.replace("\n", "")
  }

  /** CUPED variance reduction (Deng et al. WSDM'13 — the pre-experiment
    * covariate adjustment every mature experimentation platform applies
    * before reading a metric): per-user PRE-period revenue X predicts
    * POST-period revenue Y; θ = cov(X,Y)/var(X), Y_adj = Y − θ(X − X̄),
    * and the variance of the adjusted metric drops by exactly ρ² — the
    * emitted reduction percentage is how much experiment traffic the
    * covariate just saved. One by-(user, period) aggregate → a users-
    * sized relation → 1-row moment algebra. */
  def cuped(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
    val per = events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < cut, col("value")).otherwise(0.0)).as("x"),
        sum(when(col("ts") >= cut, col("value")).otherwise(0.0)).as("y"))
    per.agg(count(lit(1)).as("n_users"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"),
        avg(col("x") * col("x")).as("mxx"),
        avg(col("y") * col("y")).as("myy"),
        avg(col("x") * col("y")).as("mxy"))
      .withColumn("var_x", col("mxx") - col("mx") * col("mx"))
      .withColumn("var_y", col("myy") - col("my") * col("my"))
      .withColumn("cov_xy", col("mxy") - col("mx") * col("my"))
      .withColumn("theta", col("cov_xy") / col("var_x"))
      .withColumn("var_adj",
        col("var_y") - col("cov_xy") * col("cov_xy") / col("var_x"))
      .select(col("n_users"), round(col("theta"), 6).as("theta"),
        round(col("var_y"), 6).as("var_y"),
        round(col("var_adj"), 6).as("var_adj"),
        round((lit(1.0) - col("var_adj") / col("var_y")) * 100, 6)
          .as("var_reduction_pct"))
  }

  /** Benjamini–Hochberg FDR control (JRSS-B 1995) over a family of
    * per-nation two-proportion z-tests (each nation's return rate vs the
    * global rate): p-values from the committed A&S erf polynomial, ranked
    * ascending, rejected up to the LARGEST rank with p ≤ (i/m)·q — the
    * step-up rule (note: every test below that rank is rejected too,
    * even those above their own threshold). q = 0.10. The multiple-
    * testing gate any per-segment metric sweep needs before announcing
    * "nation 17 is different". Facts aggregate once; everything after is
    * a 25-row relation with two windows. */
  def benjaminiHochberg(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
    val wAll = Window.partitionBy(lit(1))
    val g = base
      .withColumn("n_tot", sum(col("n")).over(wAll))
      .withColumn("r_tot", sum(col("r")).over(wAll))
      .withColumn("p0", col("r_tot").cast("double") / col("n_tot"))
      .withColumn("z", (col("r").cast("double") / col("n") - col("p0"))
        / sqrt(col("p0") * (lit(1.0) - col("p0")) / col("n")))
      .withColumn("p_value", round(pTwoSided(col("z")), 6))
    val wRank = Window.partitionBy(lit(1))
      .orderBy(col("p_value"), col("nation"))
    val ranked = g.withColumn("rk", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("bh_thresh",
        round(col("rk") * 0.10 / col("m"), 6))
      .withColumn("passes", col("p_value") <= col("bh_thresh"))
    val cutoff = ranked
      .withColumn("max_pass_rk",
        max(when(col("passes"), col("rk"))).over(wAll))
    cutoff
      .select(col("nation"), col("n"), col("r"), round(col("z"), 6).as("z"),
        col("p_value"), col("rk").cast("int").as("rk"), col("bh_thresh"),
        (col("rk") <= coalesce(col("max_pass_rk"), lit(0))).as("rejected"))
      .orderBy(col("rk"))
  }

  /** Mann–Whitney U rank-sum test (1947) — the nonparametric two-sample
    * location test next to the parametric [[abTest]]: do BUILDING and
    * MACHINERY customers' order values come from the same distribution?
    * Ranks are GLOBAL over the pooled sample via
    * [[ScaledRank.withGroupedRowNumbers]] (range partition + local pass —
    * the no-single-task rank path; (price, orderkey) tie-break makes
    * ranks exact on this continuous metric), then U, its normal
    * approximation z, and the A&S p-value are 1-row algebra. */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val pool = Tables(s, dir, "orders")
      .join(broadcast(Tables(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(lit(1).as("g"), col("c_mktsegment").as("seg"),
        col("o_totalprice").as("v"), col("o_orderkey"))
    val ranked = ScaledRank.withGroupedRowNumbers(pool, Seq(col("g")),
      Seq(col("v"), col("o_orderkey")))
    ranked.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("grn")).as("rank_sum"))
      .agg(
        max(when(col("seg") === "BUILDING", col("n"))).as("n1"),
        max(when(col("seg") === "MACHINERY", col("n"))).as("n2"),
        max(when(col("seg") === "BUILDING", col("rank_sum"))).as("r1"))
      .withColumn("u", expr("r1 - (n1 * (n1 + 1)) div 2"))
      .withColumn("mu", col("n1").cast("double") * col("n2") / 2)
      .withColumn("sigma", sqrt(col("n1").cast("double") * col("n2")
        * (col("n1") + col("n2") + 1) / 12))
      .withColumn("z", (col("u") - col("mu")) / col("sigma"))
      .select(col("n1"), col("n2"), col("u"), round(col("z"), 6).as("z"),
        round(pTwoSided(col("z")), 6).as("p_value"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic, EXACT-integer: D =
    * max_v |F̂₁(v) − F̂₂(v)| over click vs view `events.value`, computed
    * as the max |n₂·cum₁(v) − n₁·cum₂(v)| over distinct values — the
    * numerator over the common denominator n₁n₂ is pure int64, so the
    * supremum of two empirical CDFs hash-matches with no float ordering
    * anywhere (d_stat itself is ONE IEEE division of exact integers at
    * the end). Ties across samples land on the same distinct-value row,
    * so both CDFs jump together — the correct discrete-KS treatment.
    * Shapes: distinct-value grain aggregate (map-side combined), the
    * signed per-value delta n₂c₁ − n₁c₂ run through
    * [[ScaledRank.withGlobalCumSum]] (range exchange + local pass —
    * never a single-partition window), then a 1-row max. */
  def ksTest(s: SparkSession, dir: String): DataFrame = {
    val perVal = Tables(s, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("value"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c2"))
    val totals = perVal.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val deltas = perVal.crossJoin(broadcast(totals))
      .select(col("value"), col("n1"), col("n2"),
        (col("n2") * col("c1") - col("n1") * col("c2")).as("delta"))
    ScaledRank.withGlobalCumSum(deltas, Seq(col("value")), col("delta"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(abs(col("cumsum"))).as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast("double") /
          (col("n1") * col("n2")).cast("double")).as("d_stat"))
  }

  /** ALS ridge regularizer for [[alsStep]]. */
  private val AlsLambda = 0.1

  /** One exact ALS half-step (Koren/Bell/Volinsky; THE canonical Spark
    * MLlib recommender workload, here as pure DataFrame algebra): hold
    * rank-2 item factors fixed (deterministic md5-derived, committed) and
    * solve every user's ridge regression in closed form — u =
    * (Σvvᵀ + λI)⁻¹ Σv·r via the explicit 2×2 inverse, so the whole
    * training step is grouped sums + scalar algebra, no iterative solver
    * and no driver-side matrix work. Ratings r = ln(1+Σqty) per
    * (customer, part). Emits the first 100 users' factors plus the
    * global RMSE before (zero factors) and after the step — the oracle
    * hash-checks that ONE step of training measurably fits, exactly.
    *
    * 100 TB shape: one grouped pass builds the 5 normal-equation moments
    * per user (map-side combined), the solve is per-row projection
    * arithmetic, and the RMSE audit is one more scan — the ALS dataflow
    * with the linear algebra inlined into Catalyst expressions. */
  def alsStep(s: SparkSession, dir: String): DataFrame = {
    def itemF(k: Int): Column =
      ((conv(substring(md5(concat(lit(s"als$k-"),
        col("item").cast("string"))), 1, 7), 16, 10).cast("long") % 2001)
        - 1000).cast("double") / 1000.0
    val base = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("item"))
      .agg(log(lit(1.0) + sum(col("l_quantity"))).as("r"))
    // factors live as their own items-sized dim (real ALS keeps factor
    // tables separate) and broadcast into the ratings — two md5s per
    // DISTINCT item, not per rating row (4.4 -> ~3 s at sf0.1)
    val factors = base.select(col("item")).distinct()
      .withColumn("v1", itemF(1)).withColumn("v2", itemF(2))
    val ratings = base.join(broadcast(factors), "item").persist() // q-cache
    val moments = ratings.groupBy(col("cust"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("v1") * col("v1")).as("s11"),
        sum(col("v1") * col("v2")).as("s12"),
        sum(col("v2") * col("v2")).as("s22"),
        sum(col("v1") * col("r")).as("b1"),
        sum(col("v2") * col("r")).as("b2"))
    val det = ((col("s11") + AlsLambda) * (col("s22") + AlsLambda)
      - col("s12") * col("s12"))
    val solved = moments
      .withColumn("u1", ((col("s22") + AlsLambda) * col("b1")
        - col("s12") * col("b2")) / det)
      .withColumn("u2", ((col("s11") + AlsLambda) * col("b2")
        - col("s12") * col("b1")) / det)
      .persist() // q-cache
    val audit = ratings.join(solved.select(col("cust"), col("u1"),
        col("u2")), "cust")
      .agg(round(sqrt(avg(col("r") * col("r"))), 6).as("rmse_before"),
        round(sqrt(avg(pow(col("r") - (col("u1") * col("v1")
          + col("u2") * col("v2")), 2))), 6).as("rmse_after"))
    solved.filter(col("cust") < 100)
      .crossJoin(broadcast(audit))
      .select(col("cust"), col("n_items"), round(col("u1"), 6).as("u1"),
        round(col("u2"), 6).as("u2"), col("rmse_before"),
        col("rmse_after"))
      .orderBy(col("cust"))
  }

  /** Tiny expression algebra so the Cramer's-rule expansions below are
    * generated ONCE and rendered to both Spark Columns and oracle SQL
    * text with identical association — the cross-engine-determinism
    * trick: same expression tree ⇒ same IEEE result bit-for-bit. */
  private trait Alg[E] {
    def mul(a: E, b: E): E; def sub(a: E, b: E): E; def add(a: E, b: E): E
    def div(a: E, b: E): E; def const(d: Double): E
  }
  private object ColAlg extends Alg[Column] {
    def mul(a: Column, b: Column) = a * b
    def sub(a: Column, b: Column) = a - b
    def add(a: Column, b: Column) = a + b
    def div(a: Column, b: Column) = a / b
    def const(d: Double) = lit(d)
  }
  private object SqlAlg extends Alg[String] {
    def mul(a: String, b: String) = s"($a * $b)"
    def sub(a: String, b: String) = s"($a - $b)"
    def add(a: String, b: String) = s"($a + $b)"
    def div(a: String, b: String) = s"($a / $b)"
    def const(d: Double) = d.toString
  }
  private def det2[E](a: E, b: E, c: E, d: E)(A: Alg[E]): E =
    A.sub(A.mul(a, d), A.mul(b, c))
  private def det3[E](m: Seq[Seq[E]])(A: Alg[E]): E = {
    val (a, b, c) = (m(0)(0), m(0)(1), m(0)(2))
    A.add(
      A.sub(A.mul(a, det2(m(1)(1), m(1)(2), m(2)(1), m(2)(2))(A)),
        A.mul(b, det2(m(1)(0), m(1)(2), m(2)(0), m(2)(2))(A))),
      A.mul(c, det2(m(1)(0), m(1)(1), m(2)(0), m(2)(1))(A)))
  }
  private def det4[E](m: Seq[Seq[E]])(A: Alg[E]): E = {
    def minor(j: Int): Seq[Seq[E]] =
      m.drop(1).map(r => r.zipWithIndex.filterNot(_._2 == j).map(_._1))
    val t = (0 until 4).map(j => A.mul(m(0)(j), det3(minor(j))(A)))
    A.add(A.sub(t(0), t(1)), A.sub(t(2), t(3)))
  }

  private val MkChannels = Seq("click", "error", "signup", "view")

  /** Shared Cramer machinery for [[markovAttribution]]: given accessors
    * for the transition probabilities, produce (conv_base, per-channel
    * removal conv) expressions in either algebra. Absorption
    * probabilities x solve (I−Q)x = b with b = p(·→CONV); removing a
    * channel deletes its row/column WITHOUT renormalizing (its inbound
    * flow is lost to END — the standard removal-effect counterfactual,
    * Anderl et al. 2016). */
  private def markovConv[E](p: (String, String) => E, A: Alg[E])
    : (E, Map[String, E]) = {
    def system(states: Seq[String]): E = {
      val mat = states.map(i => states.map { j =>
        val kron = if (i == j) A.const(1.0) else A.const(0.0)
        A.sub(kron, p(i, j))
      })
      val b = states.map(i => p(i, "CONV"))
      val detA = if (states.length == 4) det4(mat)(A) else det3(mat)(A)
      val xs = states.indices.map { k =>
        val rep = mat.zipWithIndex.map { case (row, ri) =>
          row.zipWithIndex.map { case (e, ci) => if (ci == k) b(ri) else e }
        }
        val dk = if (states.length == 4) det4(rep)(A) else det3(rep)(A)
        A.div(dk, detA)
      }
      // conv from START: direct + through each retained transient state
      states.indices.foldLeft(p("START", "CONV")) { (acc, k) =>
        A.add(acc, A.mul(p("START", states(k)), xs(k)))
      }
    }
    val base = system(MkChannels)
    val removed = MkChannels.map(c =>
      c -> system(MkChannels.filterNot(_ == c))).toMap
    (base, removed)
  }

  /** Markov removal-effect attribution (Anderl et al., IJRM 2016 — the
    * data-driven replacement for last-touch heuristics the existing
    * [[attribution]] query implements): user journeys (events up to the
    * first purchase) become a first-order Markov chain over the four
    * channels with CONV/END absorbing; the chain's conversion
    * probability is solved EXACTLY via Cramer's rule (no value-iteration
    * rounds to commit — the 4×4 and 3×3 determinant expansions are
    * generated from one shared algebra and rendered identically into
    * Spark Columns and oracle SQL, so every float matches bit-for-bit),
    * and each channel's attribution is its removal effect: how much
    * conversion collapses when that channel's state is deleted.
    *
    * Shape: ONE by-user exchange builds ordered journeys, one grouped
    * pass counts transitions, and the entire solve is straight-line
    * arithmetic over a single 25-cell probability row — corpus-scale
    * work ends at the transition counts. */
  def markovAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val ranked = events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("rn", row_number().over(w))
      .select(col("user_id"), col("event_type"), col("rn"))
    val fp = ranked.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("fprn"))
    val j = ranked.join(fp, Seq("user_id"), "left")
      .filter(col("fprn").isNull || col("rn") < col("fprn"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val steps = j
      .withColumn("nxt", lead(col("event_type"), 1).over(w2))
      .withColumn("jrn", row_number().over(w2))
      .persist() // q-cache
    val trans = steps.select(col("event_type").as("src"),
        coalesce(col("nxt"),
          when(col("fprn").isNotNull, "CONV").otherwise("END")).as("dst"))
      .unionAll(steps.filter(col("jrn") === 1)
        .select(lit("START").as("src"), col("event_type").as("dst")))
      .unionAll(fp.filter(col("fprn") === 1)
        .select(lit("START").as("src"), lit("CONV").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
    val wsrc = Window.partitionBy(col("src"))
    val probs = trans
      .withColumn("p", col("c").cast("double") / sum(col("c")).over(wsrc))
    val srcs = "START" +: MkChannels
    val dsts = MkChannels :+ "CONV"
    val cells = for (a <- srcs; b <- dsts) yield
      coalesce(max(when(col("src") === a && col("dst") === b, col("p"))),
        lit(0.0)).as(s"p_${a}_$b")
    val row = probs.agg(cells.head, cells.tail: _*)
    def pc(a: String, b: String): Column = col(s"p_${a}_$b")
    val (base, removed) = markovConv[Column](pc, ColAlg)
    val channelStructs = MkChannels.map { c =>
      struct(lit(c).as("channel"),
        round(lit(1.0) - removed(c) / base, 6).as("removal_effect"))
    }
    val long = row.withColumn("conv_base", round(base, 6))
      .select(col("conv_base"),
        explode(array(channelStructs: _*)).as("x"))
      .select(col("x.channel").as("channel"),
        col("x.removal_effect").as("removal_effect"), col("conv_base"))
    val wAll = Window.partitionBy(lit(1))
    long
      .withColumn("attribution_share",
        round(col("removal_effect")
          / sum(col("removal_effect")).over(wAll), 6))
      .select(col("channel"), col("removal_effect"),
        col("attribution_share"), col("conv_base"))
      .orderBy(col("channel"))
  }

  /** Sample-ratio-mismatch check (the FIRST thing every experimentation
    * platform validates before reading any metric — Fabijan et al.
    * ICSE-SEIP'19): does the observed treated/control user split match
    * the designed 1/3 assignment? Two-proportion z against the design
    * ratio, p-value via the committed A&S polynomial; SRM p < 0.01 means
    * the assignment or logging pipeline is broken and every downstream
    * readout ([[did]], [[cuped]], [[sprt]]) is void. One distinct-user
    * aggregate → 1-row algebra. */
  def srm(s: SparkSession, dir: String): DataFrame = {
    val users = events(s, dir).select(col("user_id")).distinct()
    val base = users.agg(count(lit(1)).as("n_users"),
      sum(when(col("user_id") % 3 === 0, 1L).otherwise(0L)).as("n_treated"))
    val p0 = 1.0 / 3.0
    val phat = col("n_treated").cast("double") / col("n_users")
    base
      .withColumn("z", (phat - p0)
        / sqrt(lit(p0 * (1 - p0)) / col("n_users")))
      .select(col("n_users"), col("n_treated"),
        round(phat, 6).as("observed_ratio"),
        round(lit(p0), 6).as("design_ratio"),
        round(col("z"), 6).as("z"),
        round(pTwoSided(col("z")), 6).as("p_value"),
        (round(pTwoSided(col("z")), 6) < 0.01).as("srm_detected"))
  }

  /** Walk-forward forecast backtest (the time-series cross-validation a
    * forecasting pipeline must run INSTEAD of a random split — Tashman,
    * IJF 2000): for each cutoff day in the back half of the window, fit
    * a per-day linear trend on everything before the cutoff (expanding
    * window) and predict the next day's event count; report per-cutoff
    * absolute percentage errors and the overall MAPE alongside the naive
    * last-value baseline — a forecaster that can't beat naive is noise.
    * All regressions ride window-frame `regr_slope`/`regr_intercept`
    * over the DAYS relation (≤ 31 rows after the one corpus aggregate),
    * so adding cutoffs costs nothing corpus-scale. */
  def backtest(s: SparkSession, dir: String): DataFrame = {
    val days = events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .withColumn("t", datediff(col("d"),
        to_date(lit("2024-01-01"))).cast("double"))
    val wExp = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = days
      .withColumn("slope", regr_slope(col("n").cast("double"), col("t"))
        .over(wExp))
      .withColumn("icept", regr_intercept(col("n").cast("double"), col("t"))
        .over(wExp))
      .withColumn("naive", lag(col("n"), 1).over(Window.orderBy(col("t"))))
      .filter(col("t") >= 15 && col("slope").isNotNull)
      .withColumn("pred", col("icept") + col("slope") * col("t"))
      .withColumn("ape",
        round(abs(col("n") - col("pred")) / col("n") * 100, 6))
      .withColumn("ape_naive",
        round(abs(col("n") - col("naive")) / col("n") * 100, 6))
    val wAll = Window.partitionBy(lit(1))
    scored
      .withColumn("mape", round(avg(col("ape")).over(wAll), 6))
      .withColumn("mape_naive", round(avg(col("ape_naive")).over(wAll), 6))
      .select(col("t").cast("int").as("day"), col("n"),
        round(col("pred"), 6).as("pred"), col("ape"), col("ape_naive"),
        col("mape"), col("mape_naive"))
      .orderBy(col("day"))
  }

  /** Time-weighted average value per day (TWAP — the fair-average
    * convention whenever observations arrive irregularly: each value
    * holds until the NEXT event, so it is weighted by its holding
    * duration, not counted once). Contrast column: the plain
    * event-weighted mean, which over-counts bursts. One by-user… no —
    * one by-day exchange for the lead window; weights in exact integer
    * µs. Last event of each day holds until midnight. */
  def twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("day")).orderBy(col("ts_us"), col("event_id"))
    val held = events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("day_end_us",
        unix_micros(col("day") + expr("INTERVAL 1 DAY")))
      .withColumn("hold_us",
        coalesce(lead(col("ts_us"), 1).over(w), col("day_end_us"))
          - col("ts_us"))
    held.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") * col("hold_us"))
          / sum(col("hold_us")), 6).as("twap"),
        round(avg(col("value")), 6).as("event_mean"))
      .withColumn("day", to_date(col("day")).cast("string"))
      .orderBy(col("day"))
  }

  /** Rank correlations over the per-nation revenue/customer aggregate —
    * Spearman ρ (Pearson on ranks) and Kendall τ (concordant-minus-
    * discordant pairs): the distribution-free complements to the
    * parametric `regr_*`/corr family, robust to the heavy-tailed money
    * amounts. Ranks are dense over the 25-row nation relation, and the
    * τ pair scan is the 25²/2 self-join of that TINY relation — the
    * corpus-scale work ends at the first aggregate. */
  def rankCorr(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables(s, dir, "orders")
      .join(broadcast(Tables(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        countDistinct(col("o_custkey")).as("n_cust"))
    val wr = Window.orderBy(col("rev"), col("nation"))
    val wc = Window.orderBy(col("n_cust"), col("nation"))
    val ranked = nat
      .withColumn("rr", row_number().over(wr).cast("double"))
      .withColumn("rc", row_number().over(wc).cast("double"))
      .persist() // q-cache
    val n = ranked.count().toDouble // 25: bounded by the nation dim
    val spearman = ranked
      .agg((lit(1.0) - lit(6.0) * sum(pow(col("rr") - col("rc"), 2))
        / lit(n * (n * n - 1))).as("rho"))
    val pairs = ranked.select(col("rr").as("r1"), col("rc").as("c1"),
        col("nation").as("n1"))
      .join(ranked.select(col("rr").as("r2"), col("rc").as("c2"),
        col("nation").as("n2")), col("n1") < col("n2"))
      .agg(sum(when((col("r1") - col("r2")) * (col("c1") - col("c2")) > 0,
          1L).otherwise(-1L)).as("s"))
    spearman.crossJoin(pairs)
      .select(lit(n.toLong).as("n_groups"),
        round(col("rho"), 6).as("spearman_rho"),
        round(col("s") / lit(n * (n - 1) / 2), 6).as("kendall_tau"))
  }

  /** Target compaction-group size (bytes-proxy: row count). */
  private val CompactTarget = 8000L

  /** Small-file compaction planning — the OPTIMIZE step every lakehouse
    * table needs once streaming writers fragment it: simulated files =
    * per-(day, event-type) row groups (realistically skewed), ordered by
    * their key so groups stay range-contiguous (zone maps survive
    * compaction), and assigned to output groups by exclusive-running-
    * size ÷ target — the streaming bin-packing that needs ONE
    * [[ScaledRank.withGlobalCumSum]] pass, not a driver-side packer.
    * Emits per-group file/row counts plus the before/after small-file
    * ratio that justifies running the job. */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val files = events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("nrows"))
      .withColumn("file_id",
        concat(to_date(col("d")).cast("string"), lit("/"),
          col("event_type")))
    val summed = ScaledRank.withGlobalCumSum(
      files.select(col("file_id"), col("d"), col("event_type"),
        col("nrows")),
      Seq(col("d"), col("event_type")), col("nrows"))
    val grouped = summed
      .withColumn("grp", expr(s"(cumsum - nrows) div $CompactTarget"))
    val wAll = Window.partitionBy(lit(1))
    grouped.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_files"), sum(col("nrows")).as("n_rows"),
        min(col("file_id")).as("first_file"),
        max(col("file_id")).as("last_file"))
      .withColumn("files_before", sum(col("n_files")).over(wAll))
      .withColumn("files_after", count(lit(1)).over(wAll))
      .select(col("grp"), col("n_files"), col("n_rows"),
        col("first_file"), col("last_file"), col("files_before"),
        col("files_after"))
      .orderBy(col("grp"))
  }

  private val ShapBits = Map("click" -> 1, "error" -> 2, "signup" -> 4,
    "view" -> 8)

  /** Closed-form Shapley sum over the 16-coalition lattice, rendered via
    * [[Alg]] so both engines compute the identical expression tree. */
  private def shapleyPhi[E](v: Int => E, A: Alg[E]): Map[String, E] = {
    def fact(k: Int): Double = (1 to k).product.toDouble
    ShapBits.map { case (ch, b) =>
      val terms = (0 until 16).filter(sm => (sm & b) == 0).map { sm =>
        val sz = Integer.bitCount(sm)
        val wgt = fact(sz) * fact(4 - 1 - sz) / fact(4)
        A.mul(A.const(wgt), A.sub(v(sm | b), v(sm)))
      }
      ch -> terms.reduce(A.add)
    }
  }

  /** Exact Shapley-value attribution (Shapley 1953; the order-free
    * counterpart of [[markovAttribution]] and the method modern
    * marketing-measurement stacks moved to): each user's pre-conversion
    * channel SET is a coalition; v(S) = share of users converting whose
    * touched set ⊆ S (channels outside S switched off leave those
    * journeys intact); a channel's Shapley value is its exactly-weighted
    * average marginal contribution over all 2³ sub-coalitions — n = 4
    * channels means 16 coalition values and the CLOSED-FORM sum, no
    * sampling. The efficiency axiom Σφ = v(all) − v(∅) is emitted as a
    * column, so the oracle hash-checks the axiomatics, not just numbers.
    * Weights s!(n−1−s)!/n! and every sum are generated once and rendered
    * to both engines ([[markovConv]]'s bit-exactness trick).
    *
    * Shape: one by-user journey pass → 32-row (mask, converted) counts →
    * a 16-cell subset-sum over a 256-row mask lattice join → straight-
    * line arithmetic on one pivoted row. */
  def shapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val ranked = events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("rn", row_number().over(w))
      .select(col("user_id"), col("event_type"), col("rn"))
    val fp = ranked.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("fprn"))
    // distinct-channel bitmask per user
    val userMask = ranked.join(fp, Seq("user_id"), "left")
      .filter(col("fprn").isNull || col("rn") < col("fprn"))
      .select(col("user_id"), col("fprn"), expr(
        """CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
          |WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END"""
          .stripMargin).as("bit"))
      .distinct()
      .groupBy(col("user_id"), col("fprn"))
      .agg(sum(col("bit")).as("mask"))
      .unionAll(fp.filter(col("fprn") === 1)
        .select(col("user_id"), col("fprn"), lit(0L).as("mask")))
    val total = events(s, dir).select(col("user_id")).distinct().count()
    val byMask = userMask
      .groupBy(col("mask"))
      .agg(sum(when(col("fprn").isNotNull, 1L).otherwise(0L)).as("conv"))
    val lattice = s.range(16).select(col("id").cast("long").as("setm"))
    val subsetConv = lattice.join(byMask,
        (col("mask").bitwiseAND(col("setm"))) === col("mask"), "left")
      .groupBy(col("setm"))
      .agg(coalesce(sum(col("conv")), lit(0L)).as("c"))
      .withColumn("v", col("c").cast("double") / total)
    val cells = (0 until 16).map(m =>
      coalesce(max(when(col("setm") === m, col("v"))), lit(0.0))
        .as(s"v_$m"))
    val row = subsetConv.agg(cells.head, cells.tail: _*)
    def vc(m: Int): Column = col(s"v_$m")
    val phi = shapleyPhi[Column](vc, ColAlg)
    val structs = ShapBits.keys.toSeq.sorted.map(ch =>
      struct(lit(ch).as("channel"), round(phi(ch), 6).as("shapley")))
    val wAll = Window.partitionBy(lit(1))
    row
      .withColumn("v_full", round(vc(15), 6))
      .withColumn("v_empty", round(vc(0), 6))
      .select(col("v_full"), col("v_empty"),
        explode(array(structs: _*)).as("x"))
      .select(col("x.channel").as("channel"), col("x.shapley").as("shapley"),
        col("v_full"), col("v_empty"))
      .withColumn("share",
        round(col("shapley") / sum(col("shapley")).over(wAll), 6))
      .select(col("channel"), col("shapley"), col("share"), col("v_full"),
        col("v_empty"))
      .orderBy(col("channel"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_shapley_attribution" -> (shapleyAttribution _),
    "q_twap" -> (twap _),
    "q_rank_corr" -> (rankCorr _),
    "q_compaction_plan" -> (compactionPlan _),
    "q_srm" -> (srm _),
    "q_backtest" -> (backtest _),
    "q_markov_attribution" -> (markovAttribution _),
    "q_als_step" -> (alsStep _),
    "q_cuped" -> (cuped _),
    "q_benjamini_hochberg" -> (benjaminiHochberg _),
    "q_mann_whitney" -> (mannWhitney _),
    "q_ks_test" -> (ksTest _),
    "q_erlang_c" -> (erlangC _),
    "q_bot_flags" -> (botFlags _),
    "q_user_recs" -> (userRecs _),
    "q_wilson_rank" -> (wilsonRank _),
    "q_ab_power" -> (abPower _),
    "q_sprt" -> (sprt _),
    "q_did" -> (did _),
    "q_jackknife" -> (jackknife _),
    "q_item_cf" -> (itemCf _),
    "q_geo_pairs" -> (geoPairs _),
    "q_grid_dbscan" -> (gridDbscan _),
    "q_periodogram" -> (periodogram _),
    "q_peak_concurrency" -> (peakConcurrency _),
    "q_interval_union" -> (intervalUnion _),
    "q_regr_funcs" -> (regrFuncs _),
    "q_chisq_test" -> (chisqTest _),
    "q_crosscorr" -> (crossCorr _),
    "q_psi_drift" -> (psiDrift _),
    "q_conversion_mi" -> (conversionMi _),
    "q_kaplan_meier" -> (kaplanMeier _),
    "q_ohlc" -> (ohlc _),
    "q_gini_revenue" -> (giniRevenue _),
    "q_weekly_churn" -> (weeklyChurn _),
    "q_wow_growth" -> (wowGrowth _),
    "q_theil_sen" -> (theilSen _),
    "q_seasonal_decompose" -> (seasonalDecompose _),
    "q_assoc_rules" -> (assocRules _),
    "q_attribution" -> (attribution _),
    "q_time_to_convert" -> (timeToConvert _),
    "q_cohort_ltv" -> (cohortLtv _),
    "q_rfm_segments" -> (rfmSegments _),
    "q_cusum_changepoint" -> (cusumChangepoint _),
    "q_mad_outliers" -> (madOutliers _),
    "q_ab_test" -> (abTest _),
    "q_event_patterns" -> (eventPatterns _),
    "q_heavy_hitters" -> (heavyHitters _),
    "q_kmv_users" -> (kmvUsers _),
    "q_cms_freq" -> (cmsFreq _),
    "q_bloom_audit" -> (bloomAudit _),
    "q_rolling_active" -> (rollingActive _),
    "q_load_autocorr" -> (loadAutocorr _),
    "q_equidepth_histogram" -> (equidepthHistogram _),
    "q_length_drift" -> (lengthDrift _),
    "q_load_cume_dist" -> (loadCumeDist _),
    "q_top_paths" -> (topPaths _),
    "q_event_transitions" -> (eventTransitions _),
    "q_inter_arrival" -> (interArrival _),
    "q_funnel" -> (funnel _),
    "q_retention" -> (retention _),
    "q_anomaly_minutes" -> (anomalyMinutes _),
    "q_value_histogram" -> (valueHistogram _),
    "q_winsorize" -> (winsorize _),
    "q_ewma_load" -> (ewmaLoad _),
  )

  private def markovOracle: String = {
    val srcs = "START" +: MkChannels
    val dsts = MkChannels :+ "CONV"
    val cells = (for (a <- srcs; b <- dsts) yield
      s"""coalesce(max(CASE WHEN src='$a' AND dst='$b' THEN p END), 0.0)
         |    AS p_${a}_$b""".stripMargin).mkString(",\n  ")
    val (base, removed) =
      markovConv[String]((a, b) => s"p_${a}_$b", SqlAlg)
    val longRows = MkChannels.map { c =>
      s"""SELECT '$c' AS channel,
         |  round((1.0 - (${removed(c)} / $base)), 6) AS removal_effect,
         |  round($base, 6) AS conv_base FROM pv""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ranked AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events),
       |fp AS (
       |  SELECT user_id, min(rn) AS fprn FROM ranked
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |jj AS (
       |  SELECT r.user_id, r.event_type, r.rn, fp.fprn
       |  FROM ranked r LEFT JOIN fp USING (user_id)
       |  WHERE fp.fprn IS NULL OR r.rn < fp.fprn),
       |steps AS (
       |  SELECT user_id, event_type, fprn,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nxt,
       |    row_number() OVER (PARTITION BY user_id ORDER BY rn) AS jrn
       |  FROM jj),
       |trans AS (
       |  SELECT src, dst, count(*) AS c FROM (
       |    SELECT event_type AS src,
       |      coalesce(nxt, CASE WHEN fprn IS NOT NULL
       |        THEN 'CONV' ELSE 'END' END) AS dst
       |    FROM steps
       |    UNION ALL
       |    SELECT 'START', event_type FROM steps WHERE jrn = 1
       |    UNION ALL
       |    SELECT 'START', 'CONV' FROM fp WHERE fprn = 1)
       |  GROUP BY 1, 2),
       |probs AS (
       |  SELECT src, dst,
       |    CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY src) AS p
       |  FROM trans),
       |pv AS (
       |  SELECT
       |  $cells
       |  FROM probs),
       |lng AS (
       |  $longRows)
       |SELECT channel, removal_effect,
       |  round(removal_effect / sum(removal_effect) OVER (), 6)
       |    AS attribution_share,
       |  conv_base
       |FROM lng ORDER BY channel""".stripMargin
  }

  private def shapleyOracle: String = {
    val cells = (0 until 16).map(m =>
      s"coalesce(max(CASE WHEN setm = $m THEN v END), 0.0) AS v_$m")
      .mkString(",\n  ")
    val phi = shapleyPhi[String](m => s"v_$m", SqlAlg)
    val longRows = ShapBits.keys.toSeq.sorted.map { ch =>
      s"""SELECT '$ch' AS channel, round(${phi(ch)}, 6) AS shapley,
         |  round(v_15, 6) AS v_full, round(v_0, 6) AS v_empty FROM pv"""
        .stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ranked AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events),
       |fp AS (
       |  SELECT user_id, min(rn) AS fprn FROM ranked
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |um AS (
       |  SELECT user_id, fprn, CAST(sum(bit) AS BIGINT) AS mask FROM (
       |    SELECT DISTINCT r.user_id, fp.fprn,
       |      CASE r.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
       |        WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END AS bit
       |    FROM ranked r LEFT JOIN fp USING (user_id)
       |    WHERE fp.fprn IS NULL OR r.rn < fp.fprn)
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT user_id, fprn, 0 FROM fp WHERE fprn = 1),
       |tot AS (
       |  SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n FROM events),
       |bm AS (
       |  SELECT mask,
       |    CAST(sum(CASE WHEN fprn IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS conv
       |  FROM um GROUP BY mask),
       |sc AS (
       |  SELECT s.setm,
       |    CAST(coalesce(sum(bm.conv), 0) AS DOUBLE) / max(tot.n) AS v
       |  FROM range(0, 16) AS s(setm)
       |  LEFT JOIN bm ON (bm.mask & s.setm) = bm.mask
       |  CROSS JOIN tot
       |  GROUP BY s.setm),
       |pv AS (
       |  SELECT
       |  $cells
       |  FROM sc),
       |lng AS (
       |  $longRows)
       |SELECT channel, shapley,
       |  round(shapley / sum(shapley) OVER (), 6) AS share,
       |  v_full, v_empty
       |FROM lng ORDER BY channel""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_shapley_attribution" -> shapleyOracle,
    "q_twap" ->
      """WITH held AS (
        |  SELECT date_trunc('day', ts) AS day, value, event_id,
        |    epoch_us(ts) AS ts_us,
        |    epoch_us(date_trunc('day', ts) + INTERVAL 1 DAY) AS day_end_us
        |  FROM events),
        |g AS (
        |  SELECT day, value,
        |    coalesce(lead(ts_us) OVER (PARTITION BY day
        |      ORDER BY ts_us, event_id), day_end_us) - ts_us AS hold_us
        |  FROM held)
        |SELECT CAST(CAST(day AS DATE) AS VARCHAR) AS day,
        |  count(*) AS n_events,
        |  round(sum(value * hold_us) / sum(hold_us), 6) AS twap,
        |  round(avg(value), 6) AS event_mean
        |FROM g GROUP BY day ORDER BY day""".stripMargin,

    "q_rank_corr" ->
      """WITH nat AS (
        |  SELECT c_nationkey AS nation,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        |    count(DISTINCT o_custkey) AS n_cust
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT nation,
        |    CAST(row_number() OVER (ORDER BY rev, nation) AS DOUBLE) AS rr,
        |    CAST(row_number() OVER (ORDER BY n_cust, nation) AS DOUBLE)
        |      AS rc
        |  FROM nat),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ranked),
        |sp AS (
        |  SELECT (1.0 - 6.0 * sum(pow(rr - rc, 2))
        |    / (n * (n * n - 1))) AS rho
        |  FROM ranked CROSS JOIN nn GROUP BY n),
        |kd AS (
        |  SELECT CAST(sum(CASE WHEN (a.rr - b.rr) * (a.rc - b.rc) > 0
        |    THEN 1 ELSE -1 END) AS BIGINT) AS s
        |  FROM ranked a JOIN ranked b ON a.nation < b.nation)
        |SELECT CAST(nn.n AS BIGINT) AS n_groups,
        |  round(sp.rho, 6) AS spearman_rho,
        |  round(kd.s / (nn.n * (nn.n - 1) / 2), 6) AS kendall_tau
        |FROM sp CROSS JOIN kd CROSS JOIN nn""".stripMargin,

    "q_compaction_plan" ->
      s"""WITH files AS (
         |  SELECT date_trunc('day', ts) AS d, event_type,
         |    count(*) AS rows_,
         |    CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
         |      || '/' || event_type AS file_id
         |  FROM events GROUP BY 1, 2),
         |summed AS (
         |  SELECT file_id, rows_,
         |    sum(rows_) OVER (ORDER BY d, event_type) AS cumsum
         |  FROM files),
         |grouped AS (
         |  SELECT CAST((cumsum - rows_) // $CompactTarget AS BIGINT) AS grp,
         |    file_id, rows_
         |  FROM summed),
         |agg AS (
         |  SELECT grp, count(*) AS n_files,
         |    CAST(sum(rows_) AS BIGINT) AS n_rows,
         |    min(file_id) AS first_file, max(file_id) AS last_file
         |  FROM grouped GROUP BY grp)
         |SELECT grp, n_files, n_rows, first_file, last_file,
         |  CAST(sum(n_files) OVER () AS BIGINT) AS files_before,
         |  count(*) OVER () AS files_after
         |FROM agg ORDER BY grp""".stripMargin,

    "q_srm" -> {
      val p = pTwoSidedSql("z")
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |base AS (
         |  SELECT count(*) AS n_users,
         |    CAST(sum(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_treated
         |  FROM u),
         |zc AS (
         |  SELECT n_users, n_treated,
         |    (CAST(n_treated AS DOUBLE) / n_users - ${1.0 / 3.0})
         |      / sqrt(${1.0 / 3.0 * (1 - 1.0 / 3.0)} / n_users) AS z
         |  FROM base)
         |SELECT n_users, n_treated,
         |  round(CAST(n_treated AS DOUBLE) / n_users, 6) AS observed_ratio,
         |  round(${1.0 / 3.0}, 6) AS design_ratio,
         |  round(z, 6) AS z, round($p, 6) AS p_value,
         |  round($p, 6) < 0.01 AS srm_detected
         |FROM zc""".stripMargin
    },

    "q_backtest" ->
      """WITH days AS (
        |  SELECT date_trunc('day', ts) AS d, count(*) AS n
        |  FROM events GROUP BY 1),
        |tt AS (
        |  SELECT n, CAST(date_diff('day', TIMESTAMP '2024-01-01', d)
        |    AS DOUBLE) AS t
        |  FROM days),
        |scored AS (
        |  SELECT t, n,
        |    regr_slope(CAST(n AS DOUBLE), t) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS slope,
        |    regr_intercept(CAST(n AS DOUBLE), t) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS icept,
        |    lag(n) OVER (ORDER BY t) AS naive
        |  FROM tt),
        |f AS (
        |  SELECT t, n, icept + slope * t AS pred, naive
        |  FROM scored WHERE t >= 15 AND slope IS NOT NULL),
        |ape AS (
        |  SELECT t, n, round(pred, 6) AS pred,
        |    round(abs(n - pred) / n * 100, 6) AS ape,
        |    round(abs(n - naive) / n * 100, 6) AS ape_naive
        |  FROM f)
        |SELECT CAST(t AS INT) AS day, n, pred, ape, ape_naive,
        |  round(avg(ape) OVER (), 6) AS mape,
        |  round(avg(ape_naive) OVER (), 6) AS mape_naive
        |FROM ape ORDER BY day""".stripMargin,

    "q_markov_attribution" -> markovOracle,
    "q_als_step" ->
      s"""WITH ratings AS (
         |  SELECT o_custkey AS cust, l_partkey AS item,
         |    ln(1.0 + sum(l_quantity)) AS r
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |rf AS (
         |  SELECT cust, item, r,
         |    CAST((('0x'||substr(md5('als1-' || CAST(item AS VARCHAR)),
         |      1, 7))::BIGINT % 2001) - 1000 AS DOUBLE) / 1000.0 AS v1,
         |    CAST((('0x'||substr(md5('als2-' || CAST(item AS VARCHAR)),
         |      1, 7))::BIGINT % 2001) - 1000 AS DOUBLE) / 1000.0 AS v2
         |  FROM ratings),
         |m AS (
         |  SELECT cust, count(*) AS n_items,
         |    sum(v1 * v1) AS s11, sum(v1 * v2) AS s12,
         |    sum(v2 * v2) AS s22, sum(v1 * r) AS b1, sum(v2 * r) AS b2
         |  FROM rf GROUP BY cust),
         |solved AS (
         |  SELECT cust, n_items,
         |    ((s22 + $AlsLambda) * b1 - s12 * b2)
         |      / ((s11 + $AlsLambda) * (s22 + $AlsLambda) - s12 * s12) AS u1,
         |    ((s11 + $AlsLambda) * b2 - s12 * b1)
         |      / ((s11 + $AlsLambda) * (s22 + $AlsLambda) - s12 * s12) AS u2
         |  FROM m),
         |audit AS (
         |  SELECT round(sqrt(avg(r * r)), 6) AS rmse_before,
         |    round(sqrt(avg(pow(r - (u1 * v1 + u2 * v2), 2))), 6)
         |      AS rmse_after
         |  FROM rf JOIN solved USING (cust))
         |SELECT cust, n_items, round(u1, 6) AS u1, round(u2, 6) AS u2,
         |  rmse_before, rmse_after
         |FROM solved CROSS JOIN audit
         |WHERE cust < 100 ORDER BY cust""".stripMargin,

    "q_cuped" ->
      """WITH per AS (
        |  SELECT user_id,
        |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |        THEN value ELSE 0.0 END) AS x,
        |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |        THEN value ELSE 0.0 END) AS y
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT count(*) AS n_users, avg(x) AS mx, avg(y) AS my,
        |    avg(x * x) AS mxx, avg(y * y) AS myy, avg(x * y) AS mxy
        |  FROM per),
        |d AS (
        |  SELECT n_users,
        |    mxx - mx * mx AS var_x, myy - my * my AS var_y,
        |    mxy - mx * my AS cov_xy
        |  FROM m)
        |SELECT n_users, round(cov_xy / var_x, 6) AS theta,
        |  round(var_y, 6) AS var_y,
        |  round(var_y - cov_xy * cov_xy / var_x, 6) AS var_adj,
        |  round((1.0 - (var_y - cov_xy * cov_xy / var_x) / var_y) * 100,
        |    6) AS var_reduction_pct
        |FROM d""".stripMargin,

    "q_benjamini_hochberg" -> {
      val p = pTwoSidedSql("z")
      s"""WITH base AS (
         |  SELECT c_nationkey AS nation, count(*) AS n,
         |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS r
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |                JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1),
         |g AS (
         |  SELECT *,
         |    (CAST(r AS DOUBLE) / n
         |      - CAST(sum(r) OVER () AS DOUBLE) / sum(n) OVER ())
         |    / sqrt((CAST(sum(r) OVER () AS DOUBLE) / sum(n) OVER ())
         |      * (1.0 - CAST(sum(r) OVER () AS DOUBLE) / sum(n) OVER ())
         |      / n) AS z
         |  FROM base),
         |pv AS (SELECT nation, n, r, z, round($p, 6) AS p_value FROM g),
         |rk AS (
         |  SELECT *, row_number() OVER (ORDER BY p_value, nation) AS rk,
         |    count(*) OVER () AS m
         |  FROM pv),
         |th AS (
         |  SELECT *, round(rk * 0.10 / m, 6) AS bh_thresh,
         |    p_value <= round(rk * 0.10 / m, 6) AS passes
         |  FROM rk),
         |cut AS (
         |  SELECT *, max(CASE WHEN passes THEN rk END) OVER ()
         |    AS max_pass_rk
         |  FROM th)
         |SELECT nation, n, r, round(z, 6) AS z, p_value,
         |  CAST(rk AS INTEGER) AS rk, bh_thresh,
         |  rk <= coalesce(max_pass_rk, 0) AS rejected
         |FROM cut ORDER BY rk""".stripMargin
    },

    // exact-integer KS numerator; d_stat is one IEEE division at the end
    "q_ks_test" ->
      """WITH pv AS (
        |  SELECT value,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS c2
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY value),
        |tt AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |              CAST(sum(c2) AS BIGINT) AS n2 FROM pv),
        |cum AS (
        |  SELECT tt.n1, tt.n2,
        |    CAST(sum(tt.n2 * pv.c1 - tt.n1 * pv.c2)
        |         OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cs
        |  FROM pv, tt)
        |SELECT n1, n2, CAST(max(abs(cs)) AS BIGINT) AS d_num,
        |  CAST(CAST(max(abs(cs)) AS BIGINT) AS DOUBLE) /
        |    CAST(n1 * n2 AS DOUBLE) AS d_stat
        |FROM cum GROUP BY n1, n2""".stripMargin,

    "q_mann_whitney" -> {
      val p = pTwoSidedSql("z")
      s"""WITH pool AS (
         |  SELECT c_mktsegment AS seg, o_totalprice AS v, o_orderkey
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
         |ranked AS (
         |  SELECT seg,
         |    row_number() OVER (ORDER BY v, o_orderkey) AS grn
         |  FROM pool),
         |agg AS (
         |  SELECT
         |    max(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
         |    max(CASE WHEN seg = 'MACHINERY' THEN n END) AS n2,
         |    max(CASE WHEN seg = 'BUILDING' THEN rank_sum END) AS r1
         |  FROM (SELECT seg, count(*) AS n,
         |          CAST(sum(grn) AS BIGINT) AS rank_sum
         |        FROM ranked GROUP BY seg)),
         |calc AS (
         |  SELECT n1, n2, r1 - n1 * (n1 + 1) // 2 AS u,
         |    CAST(n1 AS DOUBLE) * n2 / 2 AS mu,
         |    sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12) AS sigma
         |  FROM agg),
         |z AS (SELECT n1, n2, u, (u - mu) / sigma AS z FROM calc)
         |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         |  CAST(u AS BIGINT) AS u, round(z, 6) AS z,
         |  round($p, 6) AS p_value
         |FROM z""".stripMargin
    },

    "q_erlang_c" ->
      """WITH peak AS (
        |  SELECT max(n) AS peak_per_min FROM (
        |    SELECT date_trunc('minute', ts) AS m, count(*) AS n
        |    FROM events GROUP BY 1)),
        |base AS (
        |  SELECT peak_per_min, peak_per_min / 60.0 * 10.0 AS a FROM peak),
        |byc AS (
        |  SELECT peak_per_min, a, CAST(c AS INT) AS c
        |  FROM base, UNNEST(range(1, 13)) AS t(c)),
        |terms AS (
        |  SELECT peak_per_min, a, c,
        |    sum(pow(a, CAST(k AS INT))
        |        / CAST(factorial(CAST(k AS INT)) AS DOUBLE)) AS s0
        |  FROM byc, UNNEST(range(0, c)) AS u(k)
        |  GROUP BY 1, 2, 3),
        |calc AS (
        |  SELECT c, peak_per_min, a, a / c AS rho,
        |    pow(a, c) / CAST(factorial(c) AS DOUBLE) AS tc, s0
        |  FROM terms)
        |SELECT c, peak_per_min, round(a, 6) AS a_erlangs,
        |  round(rho, 6) AS rho,
        |  round(CASE WHEN rho >= 1.0 THEN 1.0
        |    ELSE tc / (tc + (1.0 - rho) * s0) END, 6) AS p_wait,
        |  round(CASE WHEN rho >= 1.0 THEN 1.0
        |    ELSE tc / (tc + (1.0 - rho) * s0) END, 6) < 0.2 AS meets_slo
        |FROM calc ORDER BY c""".stripMargin,

    "q_bot_flags" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts)) AS DOUBLE) AS gap,
        |    epoch_us(ts) AS ts_us
        |  FROM events),
        |agg AS (
        |  SELECT user_id, count(*) AS n_events,
        |    floor(avg(gap) / 1e6 * 1e6 + 0.5) / 1e6 AS mean_gap_s,
        |    floor(stddev_pop(gap) / 1e6 * 1e6 + 0.5) / 1e6 AS sd_gap_s,
        |    (max(ts_us) - min(ts_us)) // 1000000 AS span_s
        |  FROM g GROUP BY user_id HAVING count(*) >= 20)
        |SELECT user_id, n_events, mean_gap_s, sd_gap_s,
        |  floor(sd_gap_s / mean_gap_s * 1e6 + 0.5) / 1e6 AS cv,
        |  floor(n_events * 60.0 / span_s * 1e6 + 0.5) / 1e6 AS rate_per_min,
        |  floor(sd_gap_s / mean_gap_s * 1e6 + 0.5) / 1e6 < 0.3 AS flag_regular,
        |  floor(n_events * 60.0 / span_s * 1e6 + 0.5) / 1e6 > 5.0 AS flag_rate
        |FROM agg ORDER BY user_id""".stripMargin,

    "q_user_recs" ->
      s"""WITH baskets AS (
         |  SELECT DISTINCT o_custkey AS cust, l_partkey AS item
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |cnt AS (SELECT item, count(*) AS n FROM baskets GROUP BY item),
         |co AS (
         |  SELECT a.item AS i1, b.item AS i2, count(*) AS co
         |  FROM baskets a JOIN baskets b
         |    ON a.cust = b.cust AND a.item < b.item
         |  GROUP BY 1, 2 HAVING count(*) >= $CfMinCo),
         |model AS (
         |  SELECT i1, i2, round(co / sqrt(c1.n * c2.n), 6) AS cosine
         |  FROM co JOIN cnt c1 ON co.i1 = c1.item
         |          JOIN cnt c2 ON co.i2 = c2.item),
         |sym AS (
         |  SELECT i1 AS owned, i2 AS cand, cosine FROM model
         |  UNION ALL
         |  SELECT i2, i1, cosine FROM model),
         |scores AS (
         |  SELECT b.cust, s.cand, round(sum(s.cosine), 6) AS score,
         |    count(*) AS n_vouchers
         |  FROM baskets b JOIN sym s ON b.item = s.owned
         |  WHERE b.cust < 500
         |  GROUP BY 1, 2),
         |fresh AS (
         |  SELECT sc.* FROM scores sc
         |  WHERE NOT EXISTS (SELECT 1 FROM baskets o
         |    WHERE o.cust = sc.cust AND o.item = sc.cand))
         |SELECT cust, CAST(rk AS INTEGER) AS rk, cand, score, n_vouchers
         |FROM (SELECT *, row_number() OVER (PARTITION BY cust
         |  ORDER BY score DESC, cand) AS rk FROM fresh)
         |WHERE rk <= 3 ORDER BY cust, rk""".stripMargin,

    "q_wilson_rank" ->
      """WITH base AS (
        |  SELECT p_brand AS brand, count(*) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT brand, n, r,
        |  round(CAST(r AS DOUBLE) / n, 6) AS p_hat,
        |  round((CAST(r AS DOUBLE) / n + (1.96 * 1.96 / n) / 2
        |    - 1.96 * sqrt((CAST(r AS DOUBLE) / n)
        |        * (1.0 - CAST(r AS DOUBLE) / n) / n
        |      + 1.96 * 1.96 / (4.0 * n * n)))
        |    / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_lcb
        |FROM base ORDER BY wilson_lcb DESC, brand""".stripMargin,

    "q_ab_power" ->
      """WITH base AS (
        |  SELECT count(*) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchase
        |  FROM events),
        |calc AS (
        |  SELECT CAST(n_purchase AS DOUBLE) / n_events AS p1 FROM base),
        |f AS (
        |  SELECT p1, p1 + 0.01 AS p2, (p1 + (p1 + 0.01)) / 2 AS pbar
        |  FROM calc),
        |n AS (
        |  SELECT p1,
        |    pow(1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
        |      + 0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2)
        |      / (0.01 * 0.01) AS n_arm
        |  FROM f)
        |SELECT round(p1, 6) AS p_baseline,
        |  CAST(0.01 AS DOUBLE) AS mde_abs,
        |  CAST(ceil(n_arm) AS BIGINT) AS n_per_arm,
        |  CAST(ceil(n_arm * 2) AS BIGINT) AS n_total
        |FROM n""".stripMargin,

    "q_sprt" ->
      s"""WITH t AS (
         |  SELECT event_id,
         |    CASE WHEN value > 50 THEN $SprtUp ELSE $SprtDown END AS inc
         |  FROM events WHERE event_type = 'purchase'),
         |c AS (
         |  SELECT event_id,
         |    sum(inc) OVER (ORDER BY event_id) AS cumsum,
         |    row_number() OVER (ORDER BY event_id) AS grn
         |  FROM t),
         |x AS (
         |  SELECT coalesce(min(grn), 9223372036854775807) AS cross_trial
         |  FROM c WHERE abs(cumsum) >= $SprtBound)
         |SELECT grn AS trial_no,
         |  round(CAST(cumsum AS DOUBLE) / 1000000.0, 6) AS llr,
         |  CASE WHEN cumsum >= $SprtBound THEN 'accept_h1'
         |       WHEN cumsum <= -$SprtBound THEN 'accept_h0'
         |       ELSE 'continue' END AS state,
         |  grn = cross_trial AS is_decision
         |FROM c, x WHERE grn % 250 = 0 OR grn = cross_trial
         |ORDER BY trial_no""".stripMargin,

    "q_did" ->
      """WITH cells AS (
        |  SELECT user_id % 3 = 0 AS treated,
        |    ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
        |    count(*) AS n, avg(value) AS m,
        |    sum(value * value) / count(*) - pow(avg(value), 2) AS v
        |  FROM events GROUP BY 1, 2),
        |wd AS (
        |  SELECT *,
        |    max(CASE WHEN treated AND post THEN m END) OVER () AS mtp,
        |    max(CASE WHEN treated AND NOT post THEN m END) OVER () AS mtb,
        |    max(CASE WHEN NOT treated AND post THEN m END) OVER () AS mcp,
        |    max(CASE WHEN NOT treated AND NOT post THEN m END) OVER () AS mcb,
        |    max(CASE WHEN treated AND post THEN v / n END) OVER () AS stp,
        |    max(CASE WHEN treated AND NOT post THEN v / n END) OVER () AS stb,
        |    max(CASE WHEN NOT treated AND post THEN v / n END) OVER () AS scp,
        |    max(CASE WHEN NOT treated AND NOT post THEN v / n END) OVER ()
        |      AS scb
        |  FROM cells)
        |SELECT treated, post, n, round(m, 6) AS mean_value,
        |  round((mtp - mtb) - (mcp - mcb), 6) AS did,
        |  round(sqrt(stp + stb + scp + scb), 6) AS se
        |FROM wd ORDER BY treated, post""".stripMargin,

    "q_jackknife" ->
      """WITH o AS (
        |  SELECT c_nationkey AS nation,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |tot AS (SELECT sum(p) AS s_all, count(*) AS n_all FROM o),
        |g AS (SELECT nation, sum(p) AS s_g, count(*) AS n_g
        |      FROM o GROUP BY nation),
        |est AS (
        |  SELECT nation, n_g,
        |    round(CAST(s_all - s_g AS DOUBLE) / (n_all - n_g), 6)
        |      AS mean_excl,
        |    CAST(s_all AS DOUBLE) / n_all AS m_all
        |  FROM g CROSS JOIN tot),
        |wd AS (
        |  SELECT nation, n_g, mean_excl,
        |    count(*) OVER () AS gg,
        |    avg(mean_excl) OVER () AS mbar,
        |    CAST(m_all AS DOUBLE) AS m_all
        |  FROM est)
        |SELECT nation, n_g,
        |  mean_excl,
        |  round(gg * m_all - (gg - 1) * mean_excl, 6) AS pseudovalue,
        |  round(sqrt(CAST(gg - 1 AS DOUBLE) / gg *
        |    sum(pow(mean_excl - mbar, 2)) OVER ()), 6) AS jk_se
        |FROM wd ORDER BY nation""".stripMargin,

    "q_item_cf" ->
      s"""WITH baskets AS (
         |  SELECT DISTINCT o_custkey AS cust, l_partkey AS item
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |cnt AS (SELECT item, count(*) AS n FROM baskets GROUP BY item),
         |co AS (
         |  SELECT a.item AS i1, b.item AS i2, count(*) AS co
         |  FROM baskets a JOIN baskets b
         |    ON a.cust = b.cust AND a.item < b.item
         |  GROUP BY 1, 2 HAVING count(*) >= $CfMinCo)
         |SELECT i1, i2, co, c1.n AS n1, c2.n AS n2,
         |  round(co / sqrt(c1.n * c2.n), 6) AS cosine
         |FROM co JOIN cnt c1 ON co.i1 = c1.item
         |        JOIN cnt c2 ON co.i2 = c2.item
         |ORDER BY cosine DESC, i1, i2 LIMIT $CfTopN""".stripMargin,

    "q_grid_dbscan" -> {
      def coord(tag: String): String = {
        val h = s"(('0x'||substr(md5('$tag-'||CAST(c_custkey AS VARCHAR)),1,7))::BIGINT)"
        val m = s"($h % 100)"
        s"CASE WHEN $h % 2 = 0 THEN ($m*$m)/2000.0 - 5.0 ELSE 4.999 - ($m*$m)/2000.0 END"
      }
      s"""WITH RECURSIVE cells AS (
         |  SELECT CAST(floor(${coord("lat")}) AS INT) AS cx,
         |         CAST(floor(${coord("lon")}) AS INT) AS cy, count(*) AS n
         |  FROM customer GROUP BY 1, 2
         |), tot AS (SELECT sum(n) AS t FROM cells),
         |neigh AS (
         |  SELECT a.cx, a.cy, max(a.n) AS n, sum(b.n) AS nn
         |  FROM cells a JOIN cells b
         |    ON b.cx BETWEEN a.cx-1 AND a.cx+1 AND b.cy BETWEEN a.cy-1 AND a.cy+1
         |  GROUP BY 1, 2
         |), core AS (
         |  SELECT cx, cy, n, CAST((cx+5)*10 + cy+5 AS BIGINT) AS cid
         |  FROM neigh, tot WHERE nn*100 >= t*10
         |), edges AS (
         |  SELECT a.cid AS c1, b.cid AS c2 FROM core a JOIN core b
         |  ON abs(a.cx-b.cx) <= 1 AND abs(a.cy-b.cy) <= 1 AND a.cid <> b.cid
         |), reach(id, lab) AS (
         |  SELECT cid, cid FROM core
         |  UNION
         |  SELECT r.id, e.c2 FROM reach r JOIN edges e ON r.lab = e.c1
         |), cl AS (SELECT id AS cid, min(lab) AS cluster FROM reach GROUP BY id)
         |SELECT cl.cluster, count(*) AS n_cells,
         |  CAST(sum(c.n) AS BIGINT) AS n_points,
         |  min(c.cx) AS min_cx, max(c.cx) AS max_cx,
         |  min(c.cy) AS min_cy, max(c.cy) AS max_cy
         |FROM core c JOIN cl ON c.cid = cl.cid
         |GROUP BY cl.cluster ORDER BY cl.cluster""".stripMargin
    },
    "q_geo_pairs" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    (('0x'||substr(md5('lat-'||CAST(c_custkey AS VARCHAR)),1,7))::BIGINT
        |      % 100)/10.0 - 5.0 AS lat,
        |    (('0x'||substr(md5('lon-'||CAST(c_custkey AS VARCHAR)),1,7))::BIGINT
        |      % 100)/10.0 - 5.0 AS lon
        |  FROM customer),
        |cells AS (
        |  SELECT id, lat, lon, CAST(floor(lat) AS INT) AS cx,
        |    CAST(floor(lon) AS INT) AS cy
        |  FROM pts),
        |cand AS (
        |  SELECT b.cx, b.cy, a.lat AS la, a.lon AS oa, b.lat AS lb, b.lon AS ob
        |  FROM (SELECT id, lat, lon, cx + dx AS jx, cy + dy AS jy
        |        FROM cells, UNNEST([-1,0,1]) AS t1(dx),
        |             UNNEST([-1,0,1]) AS t2(dy)) a
        |  JOIN cells b ON a.jx = b.cx AND a.jy = b.cy AND a.id < b.id),
        |dist AS (
        |  SELECT cx, cy,
        |    12742.0 * asin(sqrt(
        |      sin(radians(lb - la)/2)*sin(radians(lb - la)/2)
        |      + cos(radians(la))*cos(radians(lb))
        |        * sin(radians(ob - oa)/2)*sin(radians(ob - oa)/2))) AS km
        |  FROM cand)
        |SELECT cx, cy, count(*) AS n_pairs, round(min(km), 6) AS min_km,
        |  round(avg(km), 6) AS avg_km
        |FROM dist WHERE km <= 30.0 GROUP BY cx, cy ORDER BY cx, cy""".stripMargin,
    "q_periodogram" ->
      """WITH mm AS (
        |  SELECT CAST(floor(epoch_us(ts) / 60000000.0) AS BIGINT) - 28401120 AS m
        |  FROM events),
        |p AS (SELECT CAST(unnest([7, 60, 97, 360, 720, 1440]) AS INTEGER) AS period),
        |t AS (
        |  SELECT period,
        |         cos(2 * pi() * m / period) AS c,
        |         sin(2 * pi() * m / period) AS s
        |  FROM mm CROSS JOIN p)
        |SELECT period, count(*) AS n_events,
        |       round(sum(c) * sum(c) + sum(s) * sum(s), 3) AS power
        |FROM t GROUP BY period ORDER BY period""".stripMargin,

    "q_bloom_audit" ->
      """WITH h(i, a, b) AS (VALUES (0, 31, 7), (1, 131, 11), (2, 313, 17)),
        |members AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |bits AS (
        |  SELECT DISTINCT ((user_id * a + b) % 2147483647) % 1024 AS bit
        |  FROM members, h),
        |cands AS (SELECT range AS user_id FROM range(0, 1000)),
        |hits AS (
        |  SELECT user_id FROM (
        |    SELECT c.user_id, count(*) AS nset
        |    FROM cands c, h, bits
        |    WHERE ((c.user_id * a + b) % 2147483647) % 1024 = bit
        |    GROUP BY 1)
        |  WHERE nset = 3),
        |flags AS (
        |  SELECT c.user_id,
        |    c.user_id IN (SELECT user_id FROM members) AS exact_member,
        |    c.user_id IN (SELECT user_id FROM hits) AS bloom_hit
        |  FROM cands c)
        |SELECT exact_member, bloom_hit, count(*) AS n,
        |  round(count(*) / 1000.0, 6) AS share
        |FROM flags GROUP BY 1, 2 ORDER BY exact_member, bloom_hit""".stripMargin,

    "q_cms_freq" ->
      """WITH h(i, a, b) AS (
        |  VALUES (0, 31, 7), (1, 131, 11), (2, 313, 17), (3, 1013, 101)),
        |c AS (
        |  SELECT i, ((user_id * a + b) % 2147483647) % 32 AS bucket
        |  FROM events, h),
        |sketch AS (SELECT i, bucket, count(*) AS cnt FROM c GROUP BY 1, 2),
        |exact AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
        |qc AS (
        |  SELECT user_id, i, ((user_id * a + b) % 2147483647) % 32 AS bucket
        |  FROM exact, h),
        |est AS (
        |  SELECT user_id, min(cnt) AS cms_est
        |  FROM qc JOIN sketch USING (i, bucket) GROUP BY user_id)
        |SELECT e.user_id, exact_cnt, cms_est,
        |  cms_est - exact_cnt AS overest
        |FROM exact e JOIN est USING (user_id)
        |ORDER BY exact_cnt DESC, e.user_id LIMIT 30""".stripMargin,

    "q_peak_concurrency" ->
      """WITH d AS (
        |  SELECT epoch_us(ts) AS t, 1 AS delta, event_id FROM events
        |  UNION ALL
        |  SELECT epoch_us(ts) + 300000000, -1, event_id FROM events),
        |c AS (
        |  SELECT t, sum(delta) OVER (ORDER BY t, delta, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM d)
        |SELECT CAST(max(conc) AS BIGINT) AS peak,
        |  CAST(min(CASE WHEN conc = (SELECT max(conc) FROM c) THEN t END)
        |    AS BIGINT) AS peak_at_us
        |FROM c""".stripMargin,

    "q_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS st,
        |    epoch_us(ts) + 300000000 AS en
        |  FROM events),
        |f AS (
        |  SELECT user_id, st, en,
        |    CASE WHEN st > coalesce(max(en) OVER (PARTITION BY user_id
        |        ORDER BY st, en
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |        -9223372036854775808) THEN 1 ELSE 0 END AS new_island
        |  FROM iv),
        |isl AS (
        |  SELECT user_id, st, en,
        |    sum(new_island) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |g AS (
        |  SELECT user_id, island, min(st) AS ist, max(en) AS ien
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(ien - ist) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_regr_funcs" ->
      """SELECT event_type,
        |  round(regr_slope(value, CAST(hour(ts) AS DOUBLE)), 6) AS slope,
        |  round(regr_intercept(value, CAST(hour(ts) AS DOUBLE)), 6)
        |    AS intercept,
        |  round(regr_r2(value, CAST(hour(ts) AS DOUBLE)), 6) AS r2,
        |  CAST(regr_count(value, CAST(hour(ts) AS DOUBLE)) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_chisq_test" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS seg, o_orderstatus AS st,
        |    count(*) AS n_xy
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT n_xy,
        |    sum(n_xy) OVER () AS n,
        |    sum(n_xy) OVER (PARTITION BY seg) AS n_x,
        |    sum(n_xy) OVER (PARTITION BY st) AS n_y,
        |    seg, st
        |  FROM cells)
        |SELECT
        |  round(sum(pow(n_xy - CAST(n_x * n_y AS DOUBLE) / n, 2)
        |    / (CAST(n_x * n_y AS DOUBLE) / n)), 6) AS chi2,
        |  (count(DISTINCT seg) - 1) * (count(DISTINCT st) - 1) AS dof,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM m""".stripMargin,

    "q_crosscorr" ->
      """WITH per_min AS (
        |  SELECT CAST(epoch_us(date_trunc('minute', ts)) / 60000000
        |      AS BIGINT) AS m,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS clicks,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS purchases
        |  FROM events GROUP BY 1)
        |SELECT lag,
        |  round(corr(a.clicks, b.purchases), 6) AS xcorr,
        |  count(*) AS n_pairs
        |FROM per_min a
        |CROSS JOIN (SELECT CAST(unnest(range(0, 6)) AS INTEGER) AS lag)
        |JOIN per_min b ON b.m = a.m + lag
        |GROUP BY lag ORDER BY lag""".stripMargin,

    "q_psi_drift" ->
      """WITH edges AS (
        |  SELECT list_transform(
        |    quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    x -> round(x, 6)) AS edges
        |  FROM events WHERE ts < TIMESTAMP '2024-01-25'),
        |ref AS (
        |  SELECT len(list_filter(e.edges, x -> v.value > x)) AS bucket,
        |         count(*) AS n_ref
        |  FROM events v CROSS JOIN edges e
        |  WHERE ts < TIMESTAMP '2024-01-25' GROUP BY 1),
        |cur AS (
        |  SELECT len(list_filter(e.edges, x -> v.value > x)) AS bucket,
        |         count(*) AS n_cur
        |  FROM events v CROSS JOIN edges e
        |  WHERE ts >= TIMESTAMP '2024-01-25' GROUP BY 1),
        |j AS (
        |  SELECT coalesce(ref.bucket, cur.bucket) AS bucket,
        |    CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
        |    CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
        |  FROM ref FULL JOIN cur ON ref.bucket = cur.bucket),
        |t AS (
        |  SELECT bucket, n_ref, n_cur,
        |    CAST(n_ref AS DOUBLE) / sum(n_ref) OVER () AS p,
        |    CAST(n_cur AS DOUBLE) / sum(n_cur) OVER () AS q
        |  FROM j)
        |SELECT bucket, n_ref, n_cur, round(p, 6) AS p_ref,
        |  round(q, 6) AS p_cur,
        |  CASE WHEN n_cur > 0 AND n_ref > 0
        |    THEN round((q - p) * ln(q / p), 6) ELSE 0.0 END AS psi_term
        |FROM t ORDER BY bucket""".stripMargin,

    "q_conversion_mi" ->
      """WITH assign AS (
        |  SELECT e.user_id, c.c_mktsegment AS segment,
        |    max(CASE WHEN e.event_type = 'purchase' AND e.value > 150.0
        |        THEN 1 ELSE 0 END) AS converted
        |  FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |  GROUP BY 1, 2),
        |cells AS (
        |  SELECT segment, converted, count(*) AS n_xy
        |  FROM assign GROUP BY 1, 2)
        |SELECT segment, CAST(converted AS INTEGER) AS converted,
        |  CAST(n_xy AS BIGINT) AS n_xy,
        |  round(CAST(n_xy AS DOUBLE) / sum(n_xy) OVER (), 6) AS p_xy,
        |  round((CAST(n_xy AS DOUBLE) / sum(n_xy) OVER ()) *
        |    ln(CAST(n_xy * sum(n_xy) OVER () AS DOUBLE) /
        |       CAST(sum(n_xy) OVER (PARTITION BY segment)
        |         * sum(n_xy) OVER (PARTITION BY converted) AS DOUBLE)), 6)
        |    AS mi_term
        |FROM cells ORDER BY segment, converted""".stripMargin,

    "q_kaplan_meier" ->
      """WITH horizon AS (
        |  SELECT date_trunc('week', max(ts)) AS lastwk FROM events),
        |life AS (
        |  SELECT
        |    CAST(date_diff('day', min(date_trunc('day', ts)),
        |                   max(date_trunc('day', ts))) AS INTEGER) AS t,
        |    CAST(max(date_trunc('day', ts)) < (SELECT lastwk FROM horizon)
        |      AS INTEGER) AS death
        |  FROM events GROUP BY user_id),
        |grouped AS (
        |  SELECT t, sum(death) AS d, sum(1 - death) AS c, count(*) AS m
        |  FROM life GROUP BY t),
        |tot AS (SELECT count(*) AS n_total FROM life),
        |risk AS (
        |  SELECT t, d, c, m,
        |    (SELECT n_total FROM tot)
        |      - coalesce(sum(m) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_at_risk
        |  FROM grouped),
        |terms AS (
        |  SELECT t, d, c, n_at_risk,
        |    max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END) OVER w AS zero,
        |    sum(CASE WHEN d > 0 AND d < n_at_risk
        |        THEN ln(1.0 - CAST(d AS DOUBLE) / n_at_risk)
        |        ELSE 0.0 END) OVER w AS lnsum
        |  FROM risk
        |  WINDOW w AS (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT t AS lifetime_days, CAST(d AS BIGINT) AS deaths,
        |  CAST(c AS BIGINT) AS censored, CAST(n_at_risk AS BIGINT)
        |    AS n_at_risk,
        |  CASE WHEN zero = 1 THEN 0.0 ELSE round(exp(lnsum), 6) END
        |    AS survival
        |FROM terms ORDER BY lifetime_days""".stripMargin,

    "q_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id,
        |         value,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, epoch_us(hour) AS hour_us,
        |  round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
        |  round(max(value), 6) AS high,
        |  round(min(value), 6) AS low,
        |  round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
        |  count(*) AS n_events,
        |  round(sum(value), 6) AS volume
        |FROM e GROUP BY event_type, hour
        |ORDER BY event_type, hour_us""".stripMargin,

    "q_gini_revenue" ->
      """WITH u AS (
        |  SELECT c.c_mktsegment AS segment, user_id,
        |         round(sum(value), 6) AS x
        |  FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |r AS (SELECT segment, x,
        |        row_number() OVER (PARTITION BY segment ORDER BY x, user_id)
        |          AS i
        |      FROM u)
        |SELECT segment, count(*) AS n_buyers,
        |  round(sum(x), 6) AS total_revenue,
        |  round(2.0 * sum(x * i) / (count(*) * sum(x))
        |    - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM r GROUP BY segment ORDER BY segment""".stripMargin,

    "q_weekly_churn" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |  FROM events),
        |churned AS (
        |  SELECT week, count(*) AS n_churned FROM wk w
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM wk n
        |    WHERE n.user_id = w.user_id
        |      AND n.week = w.week + INTERVAL 7 DAY)
        |  GROUP BY week)
        |SELECT epoch_us(a.week) AS week_us, count(*) AS n_active,
        |  coalesce(max(n_churned), 0) AS n_churned,
        |  round(CAST(coalesce(max(n_churned), 0) AS DOUBLE) / count(*), 6)
        |    AS churn_rate
        |FROM wk a LEFT JOIN churned c ON a.week = c.week
        |GROUP BY a.week ORDER BY week_us""".stripMargin,

    "q_wow_growth" ->
      """WITH weekly AS (
        |  SELECT c.c_mktsegment AS segment, date_trunc('week', ts) AS week,
        |         sum(value) AS rev
        |  FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2)
        |SELECT segment, epoch_us(week) AS week_us, round(rev, 6) AS revenue,
        |  round((rev - lag(rev) OVER (PARTITION BY segment ORDER BY week))
        |    / lag(rev) OVER (PARTITION BY segment ORDER BY week), 6)
        |    AS wow_growth
        |FROM weekly ORDER BY segment, week_us""".stripMargin,

    "q_theil_sen" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM events GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.event_type,
        |    median((b.c - a.c) / (b.t - a.t)) AS slope
        |  FROM hourly a JOIN hourly b
        |    ON a.event_type = b.event_type AND a.t < b.t
        |  GROUP BY 1)
        |SELECT h.event_type, count(*) AS n_hours,
        |  round(max(slope), 6) AS slope_per_hour,
        |  round(median(c - slope * t), 6) AS intercept
        |FROM hourly h JOIN slopes s ON h.event_type = s.event_type
        |GROUP BY h.event_type ORDER BY h.event_type""".stripMargin,

    "q_seasonal_decompose" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour,
        |         CAST(count(*) AS DOUBLE) AS cnt
        |  FROM events GROUP BY 1),
        |bounds AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM hourly),
        |dense AS (
        |  SELECT g.hour, coalesce(hourly.cnt, 0.0) AS cnt
        |  FROM (SELECT unnest(generate_series((SELECT h0 FROM bounds),
        |                                      (SELECT h1 FROM bounds),
        |                                      INTERVAL 1 HOUR)) AS hour) g
        |  LEFT JOIN hourly ON g.hour = hourly.hour),
        |trended AS (
        |  SELECT hour, cnt,
        |    CASE WHEN count(*) OVER w = 25 THEN avg(cnt) OVER w END AS trend
        |  FROM dense
        |  WINDOW w AS (ORDER BY hour ROWS BETWEEN 12 PRECEDING
        |               AND 12 FOLLOWING)),
        |det AS (
        |  SELECT hour, cnt, trend, cnt - trend AS det,
        |    CAST(hour(hour) AS INTEGER) AS hod
        |  FROM trended WHERE trend IS NOT NULL),
        |profile AS (SELECT hod, avg(det) AS seasonal_raw
        |            FROM det GROUP BY 1)
        |SELECT epoch_us(d.hour) AS hour_us, CAST(cnt AS BIGINT) AS cnt,
        |  round(trend, 6) AS trend, round(seasonal_raw, 6) AS seasonal,
        |  round(det - seasonal_raw, 6) AS residual
        |FROM det d JOIN profile p ON d.hod = p.hod
        |ORDER BY hour_us""".stripMargin,

    "q_assoc_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type
        |  FROM events),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb
        |       FROM (SELECT DISTINCT user_id, day FROM b)),
        |item AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS c
        |         FROM b GROUP BY 1),
        |co AS (
        |  SELECT a.event_type AS antecedent, bb.event_type AS consequent,
        |         CAST(count(*) AS DOUBLE) AS c_ab
        |  FROM b a JOIN b bb ON a.user_id = bb.user_id AND a.day = bb.day
        |    AND a.event_type <> bb.event_type
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT antecedent, consequent, CAST(c_ab AS BIGINT) AS pair_baskets,
        |  round(c_ab / (SELECT nb FROM nb), 6) AS support,
        |  round(c_ab / ca.c, 6) AS confidence,
        |  round(c_ab * (SELECT nb FROM nb) / (ca.c * cb.c), 6) AS lift
        |FROM co JOIN item ca ON co.antecedent = ca.event_type
        |        JOIN item cb ON co.consequent = cb.event_type
        |ORDER BY lift DESC, antecedent, consequent""".stripMargin,

    "q_attribution" ->
      """WITH tagged AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS ft
        |  FROM events),
        |p AS (SELECT coalesce(lt, '(direct)') AS lt_ch,
        |             coalesce(ft, '(direct)') AS ft_ch, value
        |      FROM tagged WHERE event_type = 'purchase'),
        |lt AS (SELECT lt_ch AS channel, count(*) AS lt_purchases,
        |              sum(value) AS lt_rev FROM p GROUP BY 1),
        |ft AS (SELECT ft_ch AS channel, count(*) AS ft_purchases,
        |              sum(value) AS ft_rev FROM p GROUP BY 1)
        |SELECT coalesce(lt.channel, ft.channel) AS channel,
        |  coalesce(lt_purchases, 0) AS lt_purchases,
        |  round(coalesce(lt_rev, 0.0), 6) AS lt_revenue,
        |  coalesce(ft_purchases, 0) AS ft_purchases,
        |  round(coalesce(ft_rev, 0.0), 6) AS ft_revenue
        |FROM lt FULL JOIN ft ON lt.channel = ft.channel
        |ORDER BY channel""".stripMargin,

    "q_time_to_convert" ->
      """WITH fv AS (
        |  SELECT user_id, min(epoch_us(ts)) AS fv FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |fp AS (
        |  SELECT e.user_id, min(epoch_us(ts)) AS fp
        |  FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(ts) >= fv
        |  GROUP BY 1),
        |base AS (
        |  SELECT c.c_mktsegment AS segment,
        |    (fp - fv.fv) / 1000000.0 AS delay_s, fp.fp
        |  FROM fv LEFT JOIN fp ON fv.user_id = fp.user_id
        |          JOIN customer c ON fv.user_id = c.c_custkey)
        |SELECT segment, count(*) AS n_viewers, count(fp) AS n_converted,
        |  round(CAST(count(fp) AS DOUBLE) / count(*), 6) AS conv_rate,
        |  round(median(delay_s), 6) AS median_delay_s,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY delay_s), 6)
        |    AS p90_delay_s
        |FROM base GROUP BY segment ORDER BY segment""".stripMargin,

    "q_cohort_ltv" ->
      """WITH cohorts AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort
        |  FROM events GROUP BY 1),
        |sizes AS (SELECT cohort, count(*) AS cohort_users
        |          FROM cohorts GROUP BY 1),
        |per_age AS (
        |  SELECT c.cohort,
        |    CAST(floor(date_diff('day', c.cohort, date_trunc('week', e.ts))
        |      / 7.0) AS BIGINT) AS age_wk,
        |    count(DISTINCT e.user_id) AS buyers, sum(e.value) AS rev
        |  FROM events e JOIN cohorts c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2)
        |SELECT epoch_us(p.cohort) AS cohort_week_us, age_wk, cohort_users,
        |  buyers, round(rev, 6) AS revenue,
        |  round(sum(rev) OVER (PARTITION BY p.cohort ORDER BY age_wk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS cum_revenue
        |FROM per_age p JOIN sizes s ON p.cohort = s.cohort
        |ORDER BY cohort_week_us, age_wk""".stripMargin,

    "q_rfm_segments" ->
      """WITH md AS (SELECT max(date_trunc('day', ts)) AS max_day FROM events),
        |u AS (
        |  SELECT user_id,
        |    date_diff('day', max(date_trunc('day', ts)),
        |      (SELECT max_day FROM md)) AS recency,
        |    count(*) AS freq, round(sum(value), 6) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |sc AS (
        |  SELECT recency, monetary,
        |    ntile(5) OVER (ORDER BY recency, user_id) AS r_score,
        |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
        |    ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_score
        |  FROM u)
        |SELECT CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
        |    || '-' || CAST(m_score AS VARCHAR) AS segment,
        |  count(*) AS users, round(avg(recency), 6) AS avg_recency_days,
        |  round(avg(monetary), 6) AS avg_monetary
        |FROM sc GROUP BY 1 ORDER BY segment""".stripMargin,

    "q_cusum_changepoint" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |         CAST(count(*) AS DOUBLE) AS cnt
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM hourly),
        |spine AS (
        |  SELECT t.event_type, h.hour
        |  FROM (SELECT DISTINCT event_type FROM hourly) t
        |  CROSS JOIN (SELECT unnest(generate_series((SELECT h0 FROM bounds),
        |                                            (SELECT h1 FROM bounds),
        |                                            INTERVAL 1 HOUR)) AS hour) h),
        |dense AS (
        |  SELECT s.event_type, s.hour, coalesce(hourly.cnt, 0.0) AS cnt
        |  FROM spine s LEFT JOIN hourly
        |    ON s.event_type = hourly.event_type AND s.hour = hourly.hour),
        |st AS (SELECT event_type, avg(cnt) AS mu, stddev_samp(cnt) AS sigma
        |       FROM dense GROUP BY 1),
        |pref AS (
        |  SELECT d.event_type, hour, cnt, sigma,
        |    sum(cnt - (mu + 0.5 * sigma)) OVER (PARTITION BY d.event_type
        |      ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM dense d JOIN st ON d.event_type = st.event_type)
        |SELECT event_type, epoch_us(hour) AS hour_us, CAST(cnt AS BIGINT) AS cnt,
        |  round(p - least(0.0, min(p) OVER (PARTITION BY event_type
        |    ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |    AS cusum_stat
        |FROM pref
        |QUALIFY cusum_stat > 4.0 * sigma
        |ORDER BY event_type, hour_us""".stripMargin,

    "q_mad_outliers" ->
      """WITH med AS (SELECT event_type, median(value) AS med
        |            FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type, med, median(abs(value - med)) AS mad
        |  FROM events e JOIN med ON e.event_type = med.event_type
        |  GROUP BY e.event_type, med)
        |SELECT event_id, e.event_type,
        |  floor(value * 1e6 + 0.5) / 1e6 AS value,
        |  floor(0.6745 * (value - med) / mad * 1e4 + 0.5) / 1e4 AS robust_z
        |FROM events e JOIN mad ON e.event_type = mad.event_type
        |WHERE abs(floor(0.6745 * (value - med) / mad * 1e4 + 0.5) / 1e4) > 3.5
        |ORDER BY event_id""".stripMargin,

    "q_ab_test" ->
      """WITH assign AS (
        |  SELECT e.user_id, e.user_id % 2 AS variant, c.c_mktsegment AS segment,
        |    max(CASE WHEN e.event_type = 'purchase' AND e.value > 150.0
        |        THEN 1 ELSE 0 END) AS converted
        |  FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |  GROUP BY 1, 2, 3),
        |v AS (SELECT segment, variant, CAST(count(*) AS DOUBLE) AS n,
        |        CAST(sum(converted) AS DOUBLE) AS conv FROM assign GROUP BY 1, 2),
        |w AS (SELECT segment,
        |    max(CASE WHEN variant = 0 THEN n END) AS na,
        |    max(CASE WHEN variant = 0 THEN conv END) AS ca,
        |    max(CASE WHEN variant = 1 THEN n END) AS nb,
        |    max(CASE WHEN variant = 1 THEN conv END) AS cb
        |  FROM v GROUP BY segment)
        |SELECT segment,
        |  CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
        |  CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
        |  round(ca / na, 6) AS rate_a, round(cb / nb, 6) AS rate_b,
        |  round((cb / nb - ca / na) / sqrt((ca + cb) / (na + nb)
        |    * (1.0 - (ca + cb) / (na + nb)) * (1.0 / na + 1.0 / nb)), 4) AS z_stat,
        |  abs(round((cb / nb - ca / na) / sqrt((ca + cb) / (na + nb)
        |    * (1.0 - (ca + cb) / (na + nb)) * (1.0 / na + 1.0 / nb)), 4)) > 1.96
        |    AS significant
        |FROM w ORDER BY segment""".stripMargin,

    "q_event_patterns" ->
      """SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
        |  string_agg(left(event_type, 1), '' ORDER BY ts, event_id) AS seq,
        |  CAST(length(string_agg(left(event_type, 1), '' ORDER BY ts, event_id))
        |    AS INTEGER) AS seq_len,
        |  CAST(len(regexp_extract_all(
        |    string_agg(left(event_type, 1), '' ORDER BY ts, event_id),
        |    'vc*p')) AS INTEGER) AS n_conversions
        |FROM events
        |GROUP BY user_id, date_trunc('day', ts)
        |ORDER BY user_id, day_us""".stripMargin,

    "q_ewma_load" -> ewmaSql("events", t => s"epoch_us($t)"),
    "q_heavy_hitters" ->
      """SELECT event_type || ':' || CAST(user_id % 20 AS VARCHAR) AS key,
        |  count(*) AS est
        |FROM events GROUP BY 1 ORDER BY est DESC, key""".stripMargin,

    "q_equidepth_histogram" ->
      """WITH e AS (
        |  SELECT list_transform(
        |    quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    x -> round(x, 6)) AS edges
        |  FROM events),
        |b AS (
        |  SELECT len(list_filter(e.edges, x -> v.value > x)) AS bucket,
        |         e.edges AS edges
        |  FROM events v CROSS JOIN e)
        |SELECT bucket,
        |  CASE WHEN bucket > 0 THEN any_value(edges)[bucket] END AS bucket_lo,
        |  count(*) AS n
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_load_autocorr" ->
      """WITH pm AS (
        |  SELECT epoch_us(date_trunc('minute', ts)) AS minute_us,
        |         count(*) AS requests
        |  FROM events GROUP BY 1),
        |l AS (
        |  SELECT requests,
        |    lag(requests, 1) OVER (ORDER BY minute_us) AS lag1,
        |    lag(requests, 5) OVER (ORDER BY minute_us) AS lag5
        |  FROM pm)
        |SELECT count(*) AS n_minutes,
        |  round(corr(requests, lag1), 6) AS r1,
        |  round(corr(requests, lag5), 6) AS r5
        |FROM l""".stripMargin,

    "q_length_drift" ->
      """WITH c AS (
        |  SELECT source, n_chars AS x, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |xs AS (SELECT DISTINCT n_chars AS x FROM documents),
        |st AS (SELECT source, sum(c) AS t FROM c GROUP BY 1),
        |fa AS (
        |  SELECT x,
        |    sum(gc) OVER (ORDER BY x) * 1.0 / sum(gc) OVER () AS f_all
        |  FROM (SELECT x, sum(c) AS gc FROM c GROUP BY x)),
        |fs AS (
        |  SELECT st.source, xs.x,
        |    sum(coalesce(c.c, 0)) OVER (PARTITION BY st.source
        |      ORDER BY xs.x) * 1.0 / st.t AS f_s
        |  FROM st CROSS JOIN xs
        |  LEFT JOIN c ON c.source = st.source AND c.x = xs.x)
        |SELECT fs.source, round(max(abs(fs.f_s - fa.f_all)), 6) AS ks
        |FROM fs JOIN fa USING (x)
        |GROUP BY fs.source ORDER BY fs.source""".stripMargin,

    "q_load_cume_dist" ->
      """WITH pm AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('minute', ts)) AS minute_us,
        |    count(*) AS requests
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, minute_us, requests,
        |  round(cume_dist() OVER (PARTITION BY event_type
        |    ORDER BY requests), 6) AS load_pctl
        |FROM pm ORDER BY event_type, minute_us""".stripMargin,

    "q_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('day', ts) AS day, event_type,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, day,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM e WHERE rn <= 5 GROUP BY user_id, day)
        |SELECT path, count(*) AS n_user_days FROM p
        |GROUP BY path ORDER BY n_user_days DESC, path LIMIT 15""".stripMargin,

    "q_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |dau AS (
        |  SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
        |contrib AS (
        |  SELECT user_id, unnest(generate_series(day,
        |    day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS day
        |  FROM ud),
        |wau AS (
        |  SELECT day, count(DISTINCT user_id) AS wau7 FROM contrib
        |  GROUP BY day)
        |SELECT epoch_us(dau.day) AS day_us, dau.dau, wau.wau7
        |FROM dau JOIN wau USING (day) ORDER BY day_us""".stripMargin,

    "q_event_transitions" ->
      """WITH t AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6)
        |    AS share_from
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "q_inter_arrival" ->
      """WITH t AS (
        |  SELECT event_type, epoch_us(ts) -
        |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  round(avg(gap_us) / 1000000.0, 6) AS avg_gap_s,
        |  round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_gap_s,
        |  round(quantile_cont(gap_us, 0.9) / 1000000.0, 6) AS p90_gap_s
        |FROM t WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_funnel" ->
      """WITH t AS (
        |  SELECT user_id, date_trunc('day', ts) AS day, event_type,
        |         epoch_us(ts) AS ts_us FROM events),
        |s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
        |    OVER (PARTITION BY user_id, day) AS fv FROM t),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts_us >= fv
        |                     THEN ts_us END)
        |    OVER (PARTITION BY user_id, day) AS fc FROM s1),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us >= fc
        |                     THEN ts_us END)
        |    OVER (PARTITION BY user_id, day) AS fp FROM s2),
        |u AS (SELECT user_id, day, max(fv) AS fv, max(fc) AS fc,
        |             max(fp) AS fp
        |      FROM s3 GROUP BY user_id, day)
        |SELECT count(*) AS n_user_days, count(fv) AS n_viewed,
        |  count(fc) AS n_clicked, count(fp) AS n_purchased,
        |  round(count(fc) * 1.0 / nullif(count(fv), 0), 6) AS view_to_click,
        |  round(count(fp) * 1.0 / nullif(count(fc), 0), 6) AS click_to_purchase
        |FROM u""".stripMargin,

    "q_retention" ->
      """WITH d AS (
        |  SELECT user_id, date_trunc('day', ts) AS day FROM events),
        |c AS (
        |  SELECT DISTINCT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS cohort
        |  FROM d)
        |SELECT epoch_us(cohort) AS cohort_day_us,
        |  CAST(date_diff('day', cohort, day) AS INTEGER) AS day_offset,
        |  count(DISTINCT user_id) AS n_active
        |FROM c GROUP BY 1, 2 ORDER BY cohort_day_us, day_offset""".stripMargin,

    "q_anomaly_minutes" ->
      """WITH pm AS (
        |  SELECT epoch_us(date_trunc('minute', ts)) AS minute_us,
        |         count(*) AS requests
        |  FROM events GROUP BY 1),
        |st AS (SELECT avg(requests) AS mu, stddev_samp(requests) AS sigma
        |       FROM pm)
        |SELECT minute_us, requests, round(mu, 6) AS mu,
        |  round(sigma, 6) AS sigma,
        |  round((requests - mu) / sigma, 6) AS z
        |FROM pm, st
        |WHERE abs(round((requests - mu) / sigma, 6)) > 2
        |ORDER BY minute_us""".stripMargin,

    "q_winsorize" ->
      """WITH q AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.05), 6) AS p05,
        |    round(quantile_cont(value, 0.95), 6) AS p95
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        |  round(least(greatest(e.value, q.p05), q.p95), 6) AS value_clipped,
        |  (e.value < q.p05 OR e.value > q.p95) AS was_clipped
        |FROM events e JOIN q USING (event_type)
        |ORDER BY e.event_id""".stripMargin,

    "q_value_histogram" ->
      """WITH b AS (
        |  SELECT CAST(least(floor(value / 50.0), 9) AS BIGINT) AS bucket
        |  FROM events),
        |t AS (SELECT count(*) AS total FROM b)
        |SELECT bucket, bucket * 50 AS bucket_lo, count(*) AS n,
        |  round(count(*) * 1.0 / max(total), 6) AS share
        |FROM b, t GROUP BY bucket ORDER BY bucket""".stripMargin,
  )
}
