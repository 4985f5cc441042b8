package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.SnapshotTable

/** Lakehouse surface over [[graft.sources.SnapshotTable]]: time travel
  * proven against the relational reconstruction (r12 verdict task 5).
  *
  * `q_time_travel` builds a three-version table from `orders` —
  * v1 CREATE, v2 MERGE-upsert, v3 DELETE + MERGE-upsert — then reads
  * `VERSION AS OF 2` *after* v3 landed, alongside the latest read. The
  * DuckDB oracle re-derives both states purely relationally from the
  * base table with the same deterministic batch definitions, so the hash
  * proves (a) snapshot reads return exactly the committed state, (b) a
  * later DELETE/MERGE cannot leak into an older version, and (c) the
  * MERGE semantics match the declarative definition. Prices are quantized
  * to integer cents before any aggregation (orders.o_totalprice is a
  * double; int64 sums are order-free on both engines).
  *
  * Concurrency (two writers, one loser rebases and retries) is
  * race-proven in SnapshotTableSpec — not oracle-expressible by design.
  */
object Lakehouse {

  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def safe(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_")

  private def cents(c: String): org.apache.spark.sql.Column =
    floor(col(c) * 100).cast("long")

  /** The three deterministic batches, straight from `orders`. */
  private def baseRows(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        cents("o_totalprice").as("cents"), lit("base").as("src"))

  private def batch1(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        (cents("o_totalprice") + 1000).as("cents"), lit("b1").as("src"))

  private def batch2(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        (cents("o_totalprice") + 2000).as("cents"), lit("b2").as("src"))

  /** MERGE: upsert `batch` into `cur` on key `k` (matched → replace,
    * unmatched → insert) — batch rows plus the anti-joined survivors. */
  private def upsert(cur: DataFrame, batch: DataFrame): DataFrame =
    batch.unionByName(
      cur.join(batch.select(col("k")), Seq("k"), "left_anti"))

  /** Builds the versioned table once per (session, fixture dir): v1
    * CREATE base, v2 MERGE batch1, v3 DELETE cust%10=0 then MERGE batch2.
    * Returns the table path. */
  private[ops] def buildOnce(s: SparkSession, dir: String): String =
    memo.computeIfAbsent((s, dir), _ => {
      val table = s"${Tables.workDir(s)}/snaptable_${safe(dir)}"
      SnapshotTable.transact(s, table, "create") { _ => baseRows(s, dir) }
      SnapshotTable.transact(s, table, "merge-b1") { cur =>
        upsert(cur.get, batch1(s, dir))
      }
      SnapshotTable.transact(s, table, "delete+merge-b2") { cur =>
        upsert(cur.get.filter(col("cust") % 10 =!= 0), batch2(s, dir))
      }
      table
    })

  /** `VERSION AS OF 2` read after v3 committed, next to the latest read;
    * per-(version, src) exact-integer aggregate of both states. */
  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val table = buildOnce(s, dir)
    val v2 = SnapshotTable.read(s, table, asOf = Some(2))
      .withColumn("version", lit(2))
    val v3 = SnapshotTable.read(s, table)
      .withColumn("version", lit(3))
    v2.unionByName(v3)
      .groupBy(col("version"), col("src"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("version"), col("src"))
  }

  /** Change data feed between two committed versions: the row-level diff
    * v2 → v3 (insert / update / delete with before/after values), derived
    * purely from two snapshot reads — the "what changed since version k"
    * read an incremental consumer needs, with NO change log kept by the
    * writer (the manifests make any version pair diffable after the
    * fact). Full-outer join on the key; at 100 TB both sides shuffle on
    * k once, and a production CDF prunes to the file-groups that differ
    * between the two manifests before reading any rows. The oracle
    * reconstructs both versions relationally and re-derives the same
    * classified diff, so the hash proves the committed snapshots are
    * EXACTLY their declarative definitions — row-level, not aggregate. */
  def snapshotCdf(s: SparkSession, dir: String): DataFrame = {
    val table = buildOnce(s, dir)
    val v2 = SnapshotTable.read(s, table, asOf = Some(2))
      .select(col("k"), col("cents").as("cents_before"),
        col("src").as("src_before"))
    val v3 = SnapshotTable.read(s, table, asOf = Some(3))
      .select(col("k"), col("cents").as("cents_after"),
        col("src").as("src_after"))
    v2.join(v3, Seq("k"), "full_outer")
      .withColumn("change",
        when(col("cents_before").isNull, lit("insert"))
          .when(col("cents_after").isNull, lit("delete"))
          .when(col("cents_before") =!= col("cents_after") ||
            col("src_before") =!= col("src_after"), lit("update")))
      .filter(col("change").isNotNull)
      .select(col("k"), col("change"), col("cents_before"),
        col("cents_after"), col("src_before"), col("src_after"))
      .orderBy(col("k"))
  }

  private val compactMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Compaction under the hash oracle: its OWN table (so the shared
    * [[buildOnce]] table's version history stays stable for the other
    * two queries) gets the same three versions, then
    * [[SnapshotTable.compact]] rewrites the multi-group v3 snapshot into
    * a single-group v4. The query reads the COMPACTED latest and
    * aggregates per src — hash-equal to DuckDB's reconstruction of v3
    * if and only if compaction changed layout and nothing else. The
    * layout half (exactly one file-group at v4, all pre-compaction
    * versions still readable, vacuum reclaim semantics) is pinned in
    * SnapshotTableSpec. */
  def snapshotCompact(s: SparkSession, dir: String): DataFrame = {
    val table = compactMemo.computeIfAbsent((s, dir), _ => {
      val t = s"${Tables.workDir(s)}/snapcompact_${safe(dir)}"
      SnapshotTable.transact(s, t, "create") { _ => baseRows(s, dir) }
      SnapshotTable.transact(s, t, "merge-b1") { cur =>
        upsert(cur.get, batch1(s, dir))
      }
      SnapshotTable.transact(s, t, "delete+merge-b2") { cur =>
        upsert(cur.get.filter(col("cust") % 10 =!= 0), batch2(s, dir))
      }
      SnapshotTable.compact(s, t)
      t
    })
    SnapshotTable.read(s, table)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("src"))
  }

  private val pruneMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (String, Long)]()

  /** Manifest zone-map pruning under the hash oracle: three appends of
    * disjoint o_orderkey thirds (each group's (min, max) recorded in the
    * manifest via `statsCol`), then a [0.4·mx, 0.5·mx] range read that
    * intersects ONLY the middle group — [[SnapshotTable.readPruned]]
    * plans from the manifest alone, opening 1 of 3 groups. The emitted
    * `n_groups_read` column rides the hash (oracle pins it to 1, which
    * holds by integer arithmetic for any mx ≥ 15: ⌊0.4mx⌋ > ⌊mx/3⌋ and
    * ⌊mx/2⌋ ≤ ⌊2mx/3⌋), so a pruning bug that opens extra groups — or
    * misses the right one — breaks the gate, not just a spec. At 100 TB
    * this is the read path a selective MERGE/CDF/point-lookup takes:
    * manifest consulted, matching groups scanned, nothing else. */
  /** The three-appends-of-disjoint-thirds table shared by
    * [[snapshotPrune]] and [[snapshotIncremental]]. */
  private def prunedTableOnce(s: SparkSession, dir: String): (String, Long) =
    pruneMemo.computeIfAbsent((s, dir), _ => {
      val t = s"${Tables.workDir(s)}/snapprune_${safe(dir)}"
      val rows = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("k"), cents("o_totalprice").as("cents"))
      val m = rows.agg(max(col("k"))).head().getLong(0)
      val (b1, b2) = (m / 3, 2 * m / 3)
      SnapshotTable.append(s, t, rows.filter(col("k") <= b1), Some("k"))
      SnapshotTable.append(s, t,
        rows.filter(col("k") > b1 && col("k") <= b2), Some("k"))
      SnapshotTable.append(s, t, rows.filter(col("k") > b2), Some("k"))
      (t, m)
    })

  def snapshotPrune(s: SparkSession, dir: String): DataFrame = {
    val (table, mx) = prunedTableOnce(s, dir)
    val (lo, hi) = (4 * mx / 10, mx / 2)
    val kept = SnapshotTable.prunedFiles(
      table, SnapshotTable.latestVersion(table), lo, hi)
    SnapshotTable.readPruned(s, table, lo, hi)
      .filter(col("k").between(lo, hi))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("n_groups_read", lit(kept.size))
  }

  private val mergeMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** MERGE INTO on a partition-grouped table under the hash oracle (r13
    * verdict task 4): v1 is `appendPartitioned` over pt = k mod 8 (one
    * file-group per residue), v2 is [[SnapshotTable.merge]] with a batch
    * that updates partition 2 (matched keys replaced) and inserts into
    * partition 5 (shifted keys, unmatched) — so exactly 2 of the 8 groups
    * are rewritten and the other 6 are re-listed BY NAME, their bytes
    * never opened. The emitted `n_untouched_groups` column (v1 ∩ v2
    * manifest names, oracle-pinned to 6) rides the hash: a merge that
    * rewrites an untouched partition — or drops one — breaks the gate,
    * not just a spec. The DuckDB oracle reconstructs the post-merge state
    * relationally (updates ∪ anti-joined survivors), so the hash also
    * proves the upsert semantics row-for-row via the (pt, src) rollup. */
  def snapshotMerge(s: SparkSession, dir: String): DataFrame = {
    def baseRows = Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"), (col("o_orderkey") % 8).as("pt"),
        cents("o_totalprice").as("cents"), lit("base").as("src"))
    val table = mergeMemo.computeIfAbsent((s, dir), _ => {
      val t = s"${Tables.workDir(s)}/snapmerge_${safe(dir)}"
      SnapshotTable.appendPartitioned(s, t, baseRows, "pt")
      val updates = baseRows
        .filter(col("k") % 8 === 2 && col("k") % 3 === 0)
        .select(col("k"), col("pt"), (col("cents") + 5000).as("cents"),
          lit("m1").as("src"))
        .unionByName(baseRows
          .filter(col("k") % 8 === 5 && col("k") % 3 === 0)
          .select((col("k") + 80000000L).as("k"), col("pt"),
            (col("cents") + 7000).as("cents"), lit("m2").as("src")))
      SnapshotTable.merge(s, t, updates, keyCol = "k", partCol = "pt")
      t
    })
    val m1 = SnapshotTable.manifest(table, 1).files.toSet
    val m2 = SnapshotTable.manifest(table, 2).files.toSet
    SnapshotTable.read(s, table)
      .groupBy(col("pt"), col("src"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("n_untouched_groups", lit(m1.intersect(m2).size))
      .orderBy(col("pt"), col("src"))
  }

  private val evolveMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Add-column schema evolution on the ACID surface under the hash
    * oracle (r13 verdict task 8 — the `q_schema_merge` mergeSchema
    * semantics carried to the snapshot table): v1 appends
    * (k, cust, cents, src), v2 appends the same shape PLUS a `chan`
    * column. The manifest carries the evolved DDL, so the latest read
    * returns v1's rows with `chan` null — while `VERSION AS OF 1` still
    * reads under ITS schema with no `chan` at all (both reads feed the
    * gate). The incompatible-type loud failure is SnapshotTableSpec's
    * half. */
  def snapshotEvolve(s: SparkSession, dir: String): DataFrame = {
    val table = evolveMemo.computeIfAbsent((s, dir), _ => {
      val t = s"${Tables.workDir(s)}/snapevolve_${safe(dir)}"
      SnapshotTable.append(s, t, baseRows(s, dir))
      SnapshotTable.append(s, t, batch1(s, dir)
        .withColumn("chan",
          when(col("k") % 2 === 0, lit("even")).otherwise(lit("odd"))))
      t
    })
    val v1 = SnapshotTable.read(s, table, asOf = Some(1))
      .withColumn("version", lit(1))
      .withColumn("chan", lit(null).cast("string"))
    val v2 = SnapshotTable.read(s, table).withColumn("version", lit(2))
    v1.unionByName(v2)
      .groupBy(col("version"), col("src"), col("chan"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("version"), col("src"), col("chan"))
  }

  /** Incremental consumption of the commit log under the hash oracle —
    * the table-as-a-streaming-source contract ([[SnapshotTable.readAdded]]:
    * offsets are versions, each increment reads EXACTLY the groups its
    * version staged, cost ∝ the increment). Replays the three-append
    * history version by version; per-version aggregates hash-match
    * DuckDB's reconstruction of the same thirds, which simultaneously
    * proves Σ increments ≡ the full snapshot (no row lost or
    * re-delivered across versions on an append-only history). The
    * rewrite-commit semantics (a merge's restaged groups re-deliver,
    * Delta ignoreChanges-style) are spec-pinned in SnapshotTableSpec. */
  def snapshotIncremental(s: SparkSession, dir: String): DataFrame = {
    val (table, _) = prunedTableOnce(s, dir)
    (1 to SnapshotTable.latestVersion(table)).map { v =>
      SnapshotTable.readAdded(s, table, v)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("version", lit(v))
    }.reduce(_ unionByName _)
      .select(col("version"), col("n_rows"), col("sum_cents"))
      .orderBy(col("version"))
  }

  private val optMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Partition-preserving compaction under the hash oracle
    * ([[SnapshotTable.compactPartitions]] — plain [[compact]] would
    * collapse a partition-grouped table to one UNTAGGED group, silently
    * breaking future merges): v1 appends 8 partition groups, v2 appends
    * a second group into partitions 1 and 3 only, v3 compacts — the two
    * fragmented partitions rewrite to one group each while the six
    * single-group partitions are re-listed by name, bytes untouched.
    * `n_groups` (8) and `n_kept` (6, the v2 ∩ v3 name intersection) ride
    * the hash, so a compaction that touches a clean partition — or
    * leaves a fragmented one — breaks the GATE; the (pt, src) rollup
    * hash-proves content identity against DuckDB's reconstruction. */
  def snapshotOptimize(s: SparkSession, dir: String): DataFrame = {
    def pbase = Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"), (col("o_orderkey") % 8).as("pt"),
        cents("o_totalprice").as("cents"), lit("base").as("src"))
    val table = optMemo.computeIfAbsent((s, dir), _ => {
      val t = s"${Tables.workDir(s)}/snapopt_${safe(dir)}"
      SnapshotTable.appendPartitioned(s, t, pbase, "pt")
      val extra = pbase.filter(col("pt").isin(1L, 3L))
        .select((col("k") + 80000000L).as("k"), col("pt"),
          (col("cents") + 9000).as("cents"), lit("x1").as("src"))
      SnapshotTable.appendPartitioned(s, t, extra, "pt")
      SnapshotTable.compactPartitions(s, t, "pt")
      t
    })
    val v2 = SnapshotTable.manifest(table, 2).files.toSet
    val v3 = SnapshotTable.manifest(table, 3).files.toSet
    SnapshotTable.read(s, table)
      .groupBy(col("pt"), col("src"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("n_groups", lit(v3.size))
      .withColumn("n_kept", lit(v2.intersect(v3).size))
      .orderBy(col("pt"), col("src"))
  }

  private val mviewMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Exactly-once incremental materialized-view maintenance under the
    * hash oracle — the medallion bronze→silver pattern where the two
    * snapshot-table roles MEET: the three-append source table is consumed
    * version by version through [[SnapshotTable.readAdded]] (offsets are
    * versions, cost ∝ each increment), and every increment's delta
    * aggregate is merged into the DERIVED table by one txn-tagged
    * [[SnapshotTable.transactOnce]] commit (tag = `mview:<version>`).
    * After the walk, version 2's delta is deliberately REPLAYED — the
    * at-least-once redelivery every restarted maintenance job produces —
    * and the no-op swallow is proven by `n_versions` riding the hash
    * (oracle pins 3). The final view hash-matches DuckDB's DIRECT
    * aggregate of the full base table, which simultaneously proves
    * Σ increment-merges ≡ the one-shot aggregate (no increment lost,
    * none applied twice). At 100 TB the derived table is aggregate-sized,
    * so the per-increment rewrite is the cheap side; the source is only
    * ever read incrementally. */
  def snapshotMview(s: SparkSession, dir: String): DataFrame = {
    val (src, _) = prunedTableOnce(s, dir)
    val table = mviewMemo.computeIfAbsent((s, dir), _ => {
      val t = s"${Tables.workDir(s)}/snapmview_${safe(dir)}"
      def applyDelta(v: Int): Option[Int] =
        SnapshotTable.transactOnce(s, t, s"mview-v$v", s"mview:$v") { cur =>
          val delta = SnapshotTable.readAdded(s, src, v)
            .groupBy((col("k") % 8).as("bucket"))
            .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
          cur.fold(delta)(_.unionByName(delta)
            .groupBy(col("bucket"))
            .agg(sum(col("n_rows")).as("n_rows"),
              sum(col("sum_cents")).as("sum_cents")))
        }
      (1 to SnapshotTable.latestVersion(src)).foreach(applyDelta)
      // at-least-once redelivery: the replay MUST be swallowed
      require(applyDelta(2).isEmpty, "replayed mview increment double-applied")
      t
    })
    SnapshotTable.read(s, table)
      .withColumn("n_versions", lit(SnapshotTable.latestVersion(table)))
      .orderBy(col("bucket"))
  }

  private val deleteMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Row-level DELETE via delete vectors under the hash oracle
    * ([[SnapshotTable.deleteWhere]] — merge-on-read): v1 appends the full
    * `orders` projection, v2 tombstones every cust%10=0 key (NO data
    * group opened — the manifest gains one `del-k-…` group), v3 APPENDS a
    * batch that re-inserts a third of the deleted keys (src='r1'), v4
    * tombstones k%7=0. The read proves the SEQUENCE semantics: the v2
    * tombstone must not touch the v3 re-inserts (they postdate it), while
    * the v4 tombstone hits everything — and `VERSION AS OF 1` still
    * returns the full pre-delete state (a tombstone is just another group
    * a NEWER manifest lists). `n_data_groups` (2) and `n_delete_groups`
    * (2) ride the hash, so a delete that rewrites data — or a read that
    * mis-scopes a tombstone — breaks the GATE. Purge-on-compact and
    * delete-commit readAdded silence are SnapshotTableSpec's half. */
  def snapshotDelete(s: SparkSession, dir: String): DataFrame = {
    def dbase = Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        cents("o_totalprice").as("cents"), lit("base").as("src"))
    def reins = dbase.filter(col("cust") % 10 === 0 && col("k") % 3 === 0)
      .select(col("k"), col("cust"), (col("cents") + 3000).as("cents"),
        lit("r1").as("src"))
    val table = deleteMemo.computeIfAbsent((s, dir), _ => {
      val t = s"${Tables.workDir(s)}/snapdelete_${safe(dir)}"
      SnapshotTable.append(s, t, dbase)
      SnapshotTable.deleteWhere(s, t,
        dbase.filter(col("cust") % 10 === 0).select(col("k")), "k")
      SnapshotTable.append(s, t, reins)
      SnapshotTable.deleteWhere(s, t,
        dbase.filter(col("k") % 7 === 0).select(col("k")), "k")
      t
    })
    val m = SnapshotTable.manifest(table, SnapshotTable.latestVersion(table))
    val (dels, datas) = m.files.partition(SnapshotTable.isDeleteGroup)
    val v1 = SnapshotTable.read(s, table, asOf = Some(1))
      .withColumn("version", lit(1))
    val v4 = SnapshotTable.read(s, table).withColumn("version", lit(4))
    v1.unionByName(v4)
      .groupBy(col("version"), col("src"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("n_data_groups", lit(datas.size))
      .withColumn("n_delete_groups", lit(dels.size))
      .orderBy(col("version"), col("src"))
  }

  private val updateMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Row-level UPDATE under the hash oracle ([[SnapshotTable.updateWhere]]
    * — the DML triad's third leg next to DELETE and MERGE): v1 CREATE
    * base, v2 APPEND batch1 (so every k%3=0, k%7≠0 key carries TWO rows
    * in different file-groups), v3 UPDATE cents += 5000 WHERE cust%7=0
    * AND src='base' — a predicate matching only ONE row of a duplicated
    * key, which exercises the touched-key re-write exactly: the key's
    * 'b1' twin must re-stage value-equal while its 'base' row mutates.
    * The pre-update snapshot (VERSION AS OF 2) reads next to the latest,
    * so the hash also proves an update cannot leak backward in time, and
    * the final manifest's data/tombstone group counts ride the hash
    * (3 data + 1 delete — an update that rewrote an existing group, or
    * forgot its tombstone, shifts the counts or the sums). The oracle
    * re-derives both states purely relationally. */
  def snapshotUpdate(s: SparkSession, dir: String): DataFrame = {
    val table = updateMemo.computeIfAbsent((s, dir), _ => {
      val t = s"${Tables.workDir(s)}/snapupdate_${safe(dir)}"
      SnapshotTable.append(s, t, baseRows(s, dir))
      SnapshotTable.append(s, t, batch1(s, dir))
      SnapshotTable.updateWhere(s, t, "k",
        col("cust") % 7 === 0 && col("src") === "base",
        Map("cents" -> (col("cents") + 5000)))
      t
    })
    val m = SnapshotTable.manifest(table, SnapshotTable.latestVersion(table))
    val (dels, datas) = m.files.partition(SnapshotTable.isDeleteGroup)
    val v2 = SnapshotTable.read(s, table, asOf = Some(2))
      .withColumn("version", lit(2))
    val v3 = SnapshotTable.read(s, table).withColumn("version", lit(3))
    v2.unionByName(v3)
      .groupBy(col("version"), col("src"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("n_data_groups", lit(datas.size))
      .withColumn("n_delete_groups", lit(dels.size))
      .orderBy(col("version"), col("src"))
  }

  private val restoreMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** RESTORE under the hash oracle ([[SnapshotTable.restore]] — the
    * roll-back-a-bad-deploy read): v1 CREATE base, v2 MERGE batch1 (the
    * "bad" commit), v3 = restore to v1. The latest read must equal v1's
    * state exactly, `VERSION AS OF 2` must STILL return the rolled-back
    * state (history preserved for the post-mortem), and `n_new_groups`
    * (v3 manifest names minus v1 ∪ v2 names, oracle-pinned 0) rides the
    * hash — a restore that stages any data is metadata-only no more and
    * breaks the GATE. */
  def snapshotRestore(s: SparkSession, dir: String): DataFrame = {
    val table = restoreMemo.computeIfAbsent((s, dir), _ => {
      val t = s"${Tables.workDir(s)}/snaprestore_${safe(dir)}"
      SnapshotTable.transact(s, t, "create") { _ => baseRows(s, dir) }
      SnapshotTable.transact(s, t, "merge-b1") { cur =>
        upsert(cur.get, batch1(s, dir))
      }
      SnapshotTable.restore(t, 1)
      t
    })
    val before = SnapshotTable.manifest(table, 1).files.toSet ++
      SnapshotTable.manifest(table, 2).files
    val after = SnapshotTable.manifest(table, 3).files.toSet
    val v2 = SnapshotTable.read(s, table, asOf = Some(2))
      .withColumn("version", lit(2))
    val v3 = SnapshotTable.read(s, table).withColumn("version", lit(3))
    v2.unionByName(v3)
      .groupBy(col("version"), col("src"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("n_new_groups", lit(after.diff(before).size))
      .orderBy(col("version"), col("src"))
  }

  /** DESCRIBE HISTORY — the commit-log audit table (the Delta
    * `DESCRIBE HISTORY` / Iceberg `snapshots` metadata relation): one row
    * per committed version of the shared three-transact table with the
    * operation tag, file-group count, how many groups the version ADDED
    * over its predecessor, and whether it carried a txn idempotence tag.
    * Pure manifest metadata — no data file opened — which is exactly what
    * makes the audit O(versions) at any table size. The oracle pins the
    * literal history (3 rewrites: every version lists exactly its own new
    * group), so a commit-path change that altered op tags, file counts,
    * or added-group accounting breaks the GATE. */
  def snapshotHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = buildOnce(s, dir)
    val latest = SnapshotTable.latestVersion(table)
    val rows = (1 to latest).map { v =>
      val m = SnapshotTable.manifest(table, v)
      val prev = if (v == 1) Set.empty[String]
        else SnapshotTable.manifest(table, v - 1).files.toSet
      (v, m.op, m.files.size, m.files.count(f => !prev(f)),
        m.txn.isDefined, m.schema.isDefined)
    }
    rows.toDF("version", "op", "n_files", "n_added", "has_txn", "has_schema")
      .orderBy(col("version"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_snapshot_history" -> (snapshotHistory _),
    "q_snapshot_delete" -> (snapshotDelete _),
    "q_snapshot_update" -> (snapshotUpdate _),
    "q_snapshot_restore" -> (snapshotRestore _),
    "q_snapshot_mview" -> (snapshotMview _),
    "q_time_travel" -> (timeTravel _),
    "q_snapshot_incremental" -> (snapshotIncremental _),
    "q_snapshot_optimize" -> (snapshotOptimize _),
    "q_snapshot_cdf" -> (snapshotCdf _),
    "q_snapshot_compact" -> (snapshotCompact _),
    "q_snapshot_prune" -> (snapshotPrune _),
    "q_snapshot_merge" -> (snapshotMerge _),
    "q_snapshot_evolve" -> (snapshotEvolve _))

  /** Shared oracle prefix: the pure-relational reconstruction of versions
    * v2 and v3 from `orders` — the declarative truth both lakehouse
    * queries are hash-compared against. */
  private val versionCtes: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_custkey AS cust,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    'base' AS src
      |  FROM orders WHERE o_orderkey % 7 <> 0),
      |b1 AS (
      |  SELECT o_orderkey AS k, o_custkey AS cust,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) + 1000 AS cents,
      |    'b1' AS src
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |b2 AS (
      |  SELECT o_orderkey AS k, o_custkey AS cust,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) + 2000 AS cents,
      |    'b2' AS src
      |  FROM orders WHERE o_orderkey % 5 = 0),
      |v2 AS (
      |  SELECT * FROM b1
      |  UNION ALL
      |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM b1)),
      |v3 AS (
      |  SELECT * FROM b2
      |  UNION ALL
      |  SELECT * FROM v2
      |  WHERE cust % 10 <> 0 AND k NOT IN (SELECT k FROM b2))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_snapshot_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS INTEGER), 'create', CAST(1 AS INTEGER),
        |   CAST(1 AS INTEGER), false, true),
        |  (CAST(2 AS INTEGER), 'merge-b1', CAST(1 AS INTEGER),
        |   CAST(1 AS INTEGER), false, true),
        |  (CAST(3 AS INTEGER), 'delete+merge-b2', CAST(1 AS INTEGER),
        |   CAST(1 AS INTEGER), false, true))
        |  AS t(version, op, n_files, n_added, has_txn, has_schema)
        |ORDER BY version""".stripMargin,

    "q_snapshot_mview" ->
      """SELECT o_orderkey % 8 AS bucket, count(*) AS n_rows,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(3 AS INTEGER) AS n_versions
        |FROM orders GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "q_snapshot_delete" ->
      """WITH dbase AS (
        |  SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    'base' AS src
        |  FROM orders),
        |r1 AS (
        |  SELECT k, cust, cents + 3000 AS cents, 'r1' AS src
        |  FROM dbase WHERE cust % 10 = 0 AND k % 3 = 0),
        |v4 AS (
        |  SELECT * FROM dbase WHERE cust % 10 <> 0 AND k % 7 <> 0
        |  UNION ALL
        |  SELECT * FROM r1 WHERE k % 7 <> 0),
        |states AS (
        |  SELECT 1 AS version, src, cents FROM dbase
        |  UNION ALL
        |  SELECT 4 AS version, src, cents FROM v4)
        |SELECT CAST(version AS INTEGER) AS version, src,
        |  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(2 AS INTEGER) AS n_data_groups,
        |  CAST(2 AS INTEGER) AS n_delete_groups
        |FROM states GROUP BY version, src
        |ORDER BY version, src""".stripMargin,

    "q_snapshot_update" ->
      """WITH ubase AS (
        |  SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    'base' AS src
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |ub1 AS (
        |  SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) + 1000 AS cents,
        |    'b1' AS src
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |uv2 AS (SELECT * FROM ubase UNION ALL SELECT * FROM ub1),
        |uv3 AS (
        |  SELECT k, cust,
        |    CASE WHEN cust % 7 = 0 AND src = 'base'
        |      THEN cents + 5000 ELSE cents END AS cents, src
        |  FROM uv2),
        |states AS (
        |  SELECT 2 AS version, src, cents FROM uv2
        |  UNION ALL
        |  SELECT 3 AS version, src, cents FROM uv3)
        |SELECT CAST(version AS INTEGER) AS version, src,
        |  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(3 AS INTEGER) AS n_data_groups,
        |  CAST(1 AS INTEGER) AS n_delete_groups
        |FROM states GROUP BY version, src
        |ORDER BY version, src""".stripMargin,

    "q_snapshot_restore" ->
      s"""$versionCtes,
        |states AS (
        |  SELECT 2 AS version, src, cents FROM v2
        |  UNION ALL
        |  SELECT 3 AS version, src, cents FROM base)
        |SELECT CAST(version AS INTEGER) AS version, src,
        |  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(0 AS INTEGER) AS n_new_groups
        |FROM states GROUP BY version, src
        |ORDER BY version, src""".stripMargin,

    "q_time_travel" ->
      s"""$versionCtes,
        |states AS (
        |  SELECT 2 AS version, src, cents FROM v2
        |  UNION ALL
        |  SELECT 3 AS version, src, cents FROM v3)
        |SELECT CAST(version AS INTEGER) AS version, src,
        |  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM states GROUP BY version, src
        |ORDER BY version, src""".stripMargin,

    "q_snapshot_prune" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |sel AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders, mx
        |  WHERE o_orderkey BETWEEN (4 * m) // 10 AND m // 2)
        |SELECT count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(1 AS INTEGER) AS n_groups_read
        |FROM sel""".stripMargin,

    "q_snapshot_compact" ->
      s"""$versionCtes
        |SELECT src, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v3 GROUP BY src
        |ORDER BY src""".stripMargin,

    "q_snapshot_incremental" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |tagged AS (
        |  SELECT CASE WHEN o_orderkey <= m // 3 THEN 1
        |              WHEN o_orderkey <= (2 * m) // 3 THEN 2
        |              ELSE 3 END AS version,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders, mx)
        |SELECT CAST(version AS INTEGER) AS version, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM tagged GROUP BY version
        |ORDER BY version""".stripMargin,

    "q_snapshot_optimize" ->
      """WITH pbase AS (
        |  SELECT o_orderkey AS k, o_orderkey % 8 AS pt,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    'base' AS src
        |  FROM orders),
        |extra AS (
        |  SELECT k + 80000000 AS k, pt, cents + 9000 AS cents, 'x1' AS src
        |  FROM pbase WHERE pt IN (1, 3)),
        |allrows AS (SELECT * FROM pbase UNION ALL SELECT * FROM extra)
        |SELECT pt, src, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(8 AS INTEGER) AS n_groups, CAST(6 AS INTEGER) AS n_kept
        |FROM allrows GROUP BY pt, src
        |ORDER BY pt, src""".stripMargin,

    "q_snapshot_merge" ->
      """WITH pbase AS (
        |  SELECT o_orderkey AS k, o_orderkey % 8 AS pt,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    'base' AS src
        |  FROM orders),
        |upd AS (
        |  SELECT k, pt, cents + 5000 AS cents, 'm1' AS src FROM pbase
        |  WHERE k % 8 = 2 AND k % 3 = 0
        |  UNION ALL
        |  SELECT k + 80000000, pt, cents + 7000, 'm2' FROM pbase
        |  WHERE k % 8 = 5 AND k % 3 = 0),
        |merged AS (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT * FROM pbase WHERE k NOT IN (SELECT k FROM upd))
        |SELECT pt, src, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(6 AS INTEGER) AS n_untouched_groups
        |FROM merged GROUP BY pt, src
        |ORDER BY pt, src""".stripMargin,

    "q_snapshot_evolve" ->
      s"""$versionCtes,
        |states AS (
        |  SELECT 1 AS version, src, CAST(NULL AS VARCHAR) AS chan, cents
        |  FROM base
        |  UNION ALL
        |  SELECT 2, src, CAST(NULL AS VARCHAR), cents FROM base
        |  UNION ALL
        |  SELECT 2, src,
        |    CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END, cents
        |  FROM b1)
        |SELECT CAST(version AS INTEGER) AS version, src, chan,
        |  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM states GROUP BY version, src, chan
        |ORDER BY version, src, chan NULLS FIRST""".stripMargin,

    "q_snapshot_cdf" ->
      s"""$versionCtes
        |SELECT k, change, cents_before, cents_after, src_before, src_after
        |FROM (
        |  SELECT coalesce(a.k, b.k) AS k,
        |    CASE WHEN a.k IS NULL THEN 'insert'
        |         WHEN b.k IS NULL THEN 'delete'
        |         WHEN a.cents <> b.cents OR a.src <> b.src THEN 'update'
        |    END AS change,
        |    a.cents AS cents_before, b.cents AS cents_after,
        |    a.src AS src_before, b.src AS src_after
        |  FROM v2 a FULL OUTER JOIN v3 b ON a.k = b.k)
        |WHERE change IS NOT NULL
        |ORDER BY k""".stripMargin)
}
