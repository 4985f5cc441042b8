package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions

/** Training-data curation operators over `documents` (driver north star,
  * SURVEY.md §2.11) — the steps a 100 TB pretraining pipeline runs AFTER
  * near-dup candidate generation: grouping duplicates into clusters and
  * electing canonicals, deterministic train/val/test splitting,
  * concat-and-chunk sequence packing, and benchmark-contamination checks.
  *
  * Scale notes per operator are on each method; the common theme is that
  * nothing here funnels the corpus through one task or broadcasts an
  * O(corpus) relation — the only broadcast is the eval set in
  * [[contamination]], which is small BY CONSTRUCTION (benchmarks are
  * thousands of docs, not billions).
  */
object Curation {

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** Duplicate clusters: connected components over the near-dup pair graph
    * (edges = exact shingle-Jaccard >= 0.25, [[TextOps.jaccardPairs]]),
    * with the minimum doc_id as the cluster id / canonical representative —
    * the step that turns pairwise candidates into "keep one per group".
    *
    * Distributed min-label propagation: every doc starts labeled with
    * itself; each round every node takes the min of its own label and its
    * neighbors' labels; converges in <= diameter rounds (each a plain
    * shuffle join + groupBy on doc_id — no driver-side graph). Near-dup
    * components are short chains in practice, so rounds stay single-digit;
    * at 100 TB each round is one join+agg over the (bounded) edge list and
    * the label table, and lineage should be cut with a checkpoint every few
    * rounds (the convergence count() already materializes each step here).
    * The result is the unique fixpoint (per-component min), so the oracle
    * twin is a DuckDB recursive CTE computing min over each reachable set.
    */
  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).select(col("doc_id").as("id"))
    val e = TextOps.jaccardPairs(s, dir).select(col("id1"), col("id2"))
    val labels = connectedComponents(ids, e)
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lab")
      .select(col("id").as("doc_id"), col("lab").as("cluster_id"),
        col("cluster_size"),
        (col("id") === col("lab")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Canonical-document election per duplicate cluster: keep the LONGEST
    * member (most tokens, doc_id tie-break), not the min-id one — the
    * "keep the best copy" policy real curation uses (the fullest variant
    * of a near-dup group usually survives boilerplate stripping best).
    * One row per cluster. The per-cluster window is bounded by cluster
    * size (short near-dup chains), never corpus-wide. */
  def clusterBest(s: SparkSession, dir: String): DataFrame = {
    val cl = dupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val toks = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    cl.join(toks, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("best_doc"),
        col("n_tokens"), col("cluster_size"))
      .orderBy(col("cluster_id"))
  }

  /** Connected components by distributed min-label propagation — the core
    * of [[dupClusters]], exposed for direct testing on crafted graphs.
    *
    * @param ids   one `id` column, every node (isolated nodes become
    *              singleton components labeled by themselves)
    * @param edges `id1`, `id2` pairs, either orientation, duplicates fine
    * @param maxRounds fail-safe round cap; with pointer jumping convergence
    *              takes O(log diameter) rounds, so the default 25 covers a
    *              diameter beyond 2^25 — unreachable for near-dup chains.
    *              If the cap IS hit the labels are not a fixpoint, so this
    *              throws rather than quietly returning wrong components.
    * @return (`id`, `lab`) with `lab` = min node id of the component
    */
  /** Eager localCheckpoint that simultaneously observes one aggregate
    * metric over the rows being materialized (guide §1.2: the
    * convergence check rides the checkpoint job instead of paying its own
    * action — and its AQE stage-jobs — every round; verified r15 that
    * Observation metrics fire on an eager localCheckpoint in Spark 4.1).
    * Returns the lineage-cut frame and the metric value (0 on empty);
    * `step` names the loop in the error if the metric never arrives. */
  private def checkpointWithMetric(step: String, df: DataFrame,
      metric: org.apache.spark.sql.Column): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val out = df.observe(obs, metric.as("m")).localCheckpoint()
    val v = Tables.observed(obs, step).getAs[Any]("m") match {
      case null => 0L
      case x: Number => x.longValue()
    }
    (out, v)
  }

  def connectedComponents(ids: DataFrame, edges: DataFrame,
                          maxRounds: Int = 25): DataFrame = {
    // symmetric closure: label min must flow both directions of each edge.
    // (r14-opt: pre-partitioning this cache by the round join key — the
    // guide §2.4 shared-exchange move — was tried and measured SLOWER at
    // fixture scale: the loop is AQE-replanning/job-launch-bound, not
    // exchange-bound, and the up-front repartition+materialize cost
    // exceeded the per-round exchange it saved. Revisit on a real cluster
    // where the edge relation is large enough for the exchange to matter.)
    val sym = edges.select(col("id1"), col("id2"))
      .union(edges.select(col("id2").as("id1"), col("id1").as("id2")))
      .persist() // released
    // localCheckpoint (eager) CUTS LOGICAL LINEAGE each round. persist()
    // alone is not enough for iterative algorithms: the logical plan keeps
    // nesting round over round, and AQE plan re-stringification alone goes
    // super-linear (observed: >10 min of driver CPU by round ~12 on a
    // 17-node graph). On a real cluster prefer checkpoint() to reliable
    // storage every few rounds; localCheckpoint keeps blocks on executors.
    var labels = ids.select(col("id"), col("id").as("lab")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = sym
        .join(labels.select(col("id").as("id1"), col("lab")), "id1")
        .groupBy(col("id2").as("id"))
        .agg(min(col("lab")).as("nbr_lab"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lab").as("old"),
          least(col("lab"), coalesce(col("nbr_lab"), col("lab"))).as("lab1"))
      // pointer jump (short-cutting): lab <- lab(lab). Halves the remaining
      // diameter per round, so convergence is O(log d) not O(d) — one extra
      // equi join per round, the standard trade for long-chain components.
      // EAGER localCheckpoint, measured choice (r14-opt): the lazy
      // (localCheckpoint(false) + count-as-materializer) variant saved
      // ~2 jobs/round on paper but measured ~70% HIGHER summed task time
      // on the CC-bound queries (lazy checkpointing under AQE re-executes
      // the non-final stages at definition and pins un-coalesced
      // partitioning on the cached blocks) — reverted to the eager form.
      // convergence metric observed ON the checkpoint job (one action per
      // round, not two — see checkpointWithMetric)
      val (next, ch) = checkpointWithMetric("connectedComponents",
        stepped.join(
          stepped.select(col("id").as("lab1"), col("lab1").as("lab2")), "lab1")
        .select(col("id"), col("old"),
          least(col("lab1"), col("lab2")).as("lab")),
        count(when(col("lab") =!= col("old"), 1)))
      changed = ch
      labels = next.select(col("id"), col("lab"))
      rounds += 1
    }
    sym.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds " +
          s"($changed labels still changing) — raise maxRounds; returning " +
          "partial labels would silently split components")
    labels
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res,
    * IPL 2006 — public algorithm): each doc draws key = −ln(u)/w and the
    * k smallest keys win; inclusion probability is proportional to weight
    * w (= n_chars here: longer docs more likely, the length-weighted
    * corpus subsample curation uses). u is a DETERMINISTIC uniform from a
    * Knuth multiplicative hash of doc_id ((id·2654435761) mod 1000003,
    * +0.5, /1000003) — pure integer arithmetic spelled identically in
    * both engines, so the draw reproduces across runs, engines, and data
    * order, unlike rand(). Plan: per-row key (map stage) then global
    * top-k — TakeOrderedAndProject, no full sort; zero-weight docs get
    * key = +inf and simply never win. Fully hash-oracled. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 50
    val keyed = docs(s, dir)
      .select(col("doc_id"), col("n_chars"),
        (-log((((col("doc_id") * lit(2654435761L)) % lit(1000003L))
          .cast("double") + lit(0.5)) / lit(1000003.0))
          / col("n_chars")).as("skey"))
    val top = keyed.orderBy(col("skey"), col("doc_id")).limit(k)
    top
      .withColumn("pick", row_number().over(
        Window.orderBy(col("skey"), col("doc_id"))).cast("long"))
      .select(col("pick"), col("doc_id"), col("n_chars"))
      .orderBy(col("pick"))
  }

  /** 5-round damped PageRank (power iteration, d = 0.85) — the weighted
    * iterative-propagation complement to [[connectedComponents]]' min-label
    * fixpoint. The link graph is derived deterministically from doc_id
    * (each doc links to (id*31+7) mod N and (id*17+3) mod N — 2-regular
    * out-degree, so contributions are r/2 and there is no dangling mass).
    * Each round is ONE join of the edge list against the rank relation +
    * ONE groupBy sum — the same bounded join+agg shape as connected
    * components, with lineage depth fixed at 5 (no checkpoint needed).
    * At 100 TB the edge list is the partitioned relation and ranks
    * co-partition by doc_id, so every round reuses one exchange.
    *
    * Fully ORACLE-CHECKED despite being iterative: the fixed iteration
    * count unrolls to 5 nested CTEs of identical arithmetic in DuckDB
    * (generated by [[pageRankOracleSql]]); contributions per node are ≤
    * max in-degree double terms, so round(…, 9) is stable across
    * float-sum orderings. */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"),
      count(lit(1)).cast("double").as("cnt"))
    val withN = d.crossJoin(broadcast(nAgg))
    val edges = withN.select(col("doc_id").as("src"),
        ((col("doc_id") * 31 + 7) % col("n")).as("dst"))
      .union(withN.select(col("doc_id").as("src"),
        ((col("doc_id") * 17 + 3) % col("n")).as("dst")))
    var ranks = withN.select(col("doc_id"), (lit(1.0) / col("cnt")).as("r"))
    for (_ <- 1 to 5) {
      val contrib = edges
        .join(ranks.select(col("doc_id").as("src"), col("r")), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(col("r") / 2.0).as("csum"))
      ranks = withN.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(0.15) / col("cnt") + lit(0.85) * coalesce(col("csum"), lit(0.0)))
            .as("r"))
    }
    ranks.select(col("doc_id"), round(col("r"), 9).as("rank_score"))
      .orderBy(col("doc_id"))
  }

  /** PERSONALIZED PageRank — the random-walk-with-restart similarity used
    * for graph-based recommendation and node features: identical power
    * iteration to [[pageRank]] except the 0.15 teleport mass returns to a
    * SEED SET (doc_id % 100 == 0, 1/|S| each) instead of spreading
    * uniformly, so scores rank nodes by proximity to the seeds. Same
    * one-join-one-agg round shape, same unrolled-CTE oracle; r0 = the
    * restart vector (the standard PPR initialization). */
  def personalizedPageRank(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"),
      sum(when(col("doc_id") % 100 === 0, 1).otherwise(0))
        .cast("double").as("scnt"))
    val withN = d.crossJoin(broadcast(nAgg))
      .withColumn("restart",
        when(col("doc_id") % 100 === 0, lit(1.0) / col("scnt"))
          .otherwise(lit(0.0)))
    val edges = withN.select(col("doc_id").as("src"),
        ((col("doc_id") * 31 + 7) % col("n")).as("dst"))
      .union(withN.select(col("doc_id").as("src"),
        ((col("doc_id") * 17 + 3) % col("n")).as("dst")))
    var ranks = withN.select(col("doc_id"), col("restart").as("r"))
    for (_ <- 1 to 5) {
      val contrib = edges
        .join(ranks.select(col("doc_id").as("src"), col("r")), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(col("r") / 2.0).as("csum"))
      ranks = withN.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(0.15) * col("restart")
            + lit(0.85) * coalesce(col("csum"), lit(0.0))).as("r"))
    }
    ranks.select(col("doc_id"), round(col("r"), 9).as("ppr_score"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[personalizedPageRank]]: 5 unrolled rounds, restart
    * mass to the seed set. */
  private[graft] def personalizedPageRankOracleSql(table: String): String = {
    val rounds = (1 to 5).map { k =>
      s"""p$k AS (SELECT d.doc_id,
         |  0.15 * d.restart + 0.85 * coalesce(c.s, 0.0) AS r
         |FROM seeds d LEFT JOIN (
         |  SELECT e.dst AS doc_id, sum(p.r / 2.0) AS s
         |  FROM e JOIN p${k - 1} p ON e.src = p.doc_id GROUP BY e.dst) c
         |ON d.doc_id = c.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN doc_id % 100 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS scnt
       |  FROM $table),
       |seeds AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 100 = 0 THEN 1.0 / (SELECT scnt FROM nn)
       |         ELSE 0.0 END AS restart
       |  FROM $table),
       |e AS (
       |  SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT n FROM nn) AS dst
       |  FROM $table
       |  UNION ALL
       |  SELECT doc_id AS src, (doc_id * 17 + 3) % (SELECT n FROM nn) AS dst
       |  FROM $table),
       |p0 AS (SELECT doc_id, restart AS r FROM seeds),
       |$rounds
       |SELECT doc_id, round(r, 9) AS ppr_score FROM p5 ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of [[pageRank]]: the 5 power iterations unrolled as
    * nested CTEs with identical arithmetic. */
  private[graft] def pageRankOracleSql(table: String): String = {
    val rounds = (1 to 5).map { k =>
      s"""r$k AS (SELECT d.doc_id AS doc_id,
         |  0.15 / (SELECT cnt FROM nn) + 0.85 * coalesce(c.s, 0.0) AS r
         |FROM $table d LEFT JOIN (
         |  SELECT e.dst AS doc_id, sum(p.r / 2.0) AS s
         |  FROM e JOIN r${k - 1} p ON e.src = p.doc_id GROUP BY e.dst) c
         |ON d.doc_id = c.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |              CAST(count(*) AS DOUBLE) AS cnt FROM $table),
       |e AS (
       |  SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT n FROM nn) AS dst
       |  FROM $table
       |  UNION ALL
       |  SELECT doc_id AS src, (doc_id * 17 + 3) % (SELECT n FROM nn) AS dst
       |  FROM $table),
       |r0 AS (SELECT doc_id, 1.0 / (SELECT cnt FROM nn) AS r FROM $table),
       |$rounds
       |SELECT doc_id, round(r, 9) AS rank_score FROM r5 ORDER BY doc_id""".stripMargin
  }

  /** Per-node triangle counting over the synthetic doc graph (ring edges
    * i→i+1, i→i+2 plus an affine-hash edge — same derived-graph pattern as
    * [[pageRank]]). Execution uses DEGREE-ORDERED edge orientation (the
    * classic distributed-triangle trick, cf. Suri & Vassilvitskii WWW'11):
    * every undirected edge orients from its (degree, id)-smaller endpoint,
    * so each triangle is enumerated exactly once as a→b, a→c, b→c and the
    * wedge-generating join fans out on LOW-degree vertices only — on a
    * skewed 100 TB graph that bounds the wedge count by Σ d_min(e) instead
    * of Σ deg², which is what makes the triple self-join survive hub
    * nodes. The oracle counts the same triangles with the plain a<b<c
    * formulation — orientation provably does not change the result. Output:
    * top-20 nodes by triangle membership. */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val raw = withN.select(col("doc_id").as("u"),
        ((col("doc_id") + 1) % col("n")).as("v"))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") + 2) % col("n")).as("v")))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") * 31 + 7) % col("n")).as("v")))
    val und = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    // degree-ordered orientation: edge points to the (deg, id)-larger end
    val deg = und.select(col("u").as("node")).union(und.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("a"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("b"))
      .persist() // q-cache
    oriented.count() // eager: 4 sibling-stage consumers (see Tables.pinned)
    val wedges = oriented.select(col("a"), col("b"))
      .join(oriented.select(col("a"), col("b").as("c")), "a")
      .filter(col("b") =!= col("c"))
    // close the wedge: (b, c) or (c, b) must be an oriented edge; b < c
    // canonically so each triangle counts once. ONE left-semi against the
    // union of both orientations (each canonical edge orients exactly once,
    // so the union is duplicate-free and semi ≡ the exists test) instead of
    // two left joins — halves the closure shuffles.
    val close = oriented.select(col("a").as("b"), col("b").as("c"))
      .union(oriented.select(col("b"), col("a").as("c")))
    val tris = wedges.filter(col("b") < col("c"))
      .join(close, Seq("b", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    tris.select(col("a").as("node"))
      .union(tris.select(col("b")))
      .union(tris.select(col("c")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
      .orderBy(col("tri_cnt").desc, col("node"))
      .limit(20)
  }

  /** Local clustering coefficient — the per-node refinement of
    * [[triangleCount]]'s global census: coeff(v) = 2·T(v) / (d(v)·(d(v)−1)),
    * the fraction of v's neighbor pairs that are themselves connected
    * (Watts–Strogatz '98; the community-structure feature every
    * graph-quality audit reports next to degree). Same derived doc graph
    * and the SAME degree-ordered triangle orientation (wedges bounded by
    * Σ d_min(e), hub-safe at 100 TB); the only additions are the
    * per-node triangle regroup and a broadcast-joinable degree relation.
    * Exact integers everywhere; the coefficient itself is ONE IEEE
    * division of exact ints, rounded 6 dp — engine-independent. */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val raw = withN.select(col("doc_id").as("u"),
        ((col("doc_id") + 1) % col("n")).as("v"))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") + 2) % col("n")).as("v")))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") * 31 + 7) % col("n")).as("v")))
    val und = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .persist() // released
    val deg = und.select(col("u").as("node")).union(und.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("a"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("b"))
      .persist() // released
    oriented.count() // eager: 4 sibling-stage consumers (see Tables.pinned)
    val wedges = oriented.select(col("a"), col("b"))
      .join(oriented.select(col("a"), col("b").as("c")), "a")
      .filter(col("b") =!= col("c"))
    val close = oriented.select(col("a").as("b"), col("b").as("c"))
      .union(oriented.select(col("b"), col("a").as("c")))
    val tris = wedges.filter(col("b") < col("c"))
      .join(close, Seq("b", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    val triPerNode = tris.select(col("a").as("node"))
      .union(tris.select(col("b")))
      .union(tris.select(col("c")))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    val res = deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("t"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("coeff"))
      .orderBy(col("node"))
      // eagerly materialize the one-row-per-node result (≤ |docs| rows),
      // then release the cached edge frames — without this, every driver
      // sweep leaks two persisted frames per invocation
      .localCheckpoint()
    und.unpersist()
    oriented.unpersist()
    res
  }

  /** Single-source BFS hop counts over the derived doc graph (same edge
    * derivation as [[triangleCount]]): frontier expansion with an anti-join
    * against the visited set, `localCheckpoint` per round to cut lineage
    * (the [[connectedComponents]] lesson), loud failure at the round cap.
    * Each round is one keyed join + one anti join over the FRONTIER (not
    * the corpus); rounds = graph diameter (6–8 on this expander-ish
    * topology, O(log n) generally thanks to the affine-hash shortcut
    * edges). The oracle walks the same graph with a recursive CTE, whose
    * UNION-dedup on (node, depth) bounds exploration by n × cap. */
  def graphBfs(s: SparkSession, dir: String, maxRounds: Int = 30): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val raw = withN.select(col("doc_id").as("u"),
        ((col("doc_id") + 1) % col("n")).as("v"))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") + 2) % col("n")).as("v")))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") * 31 + 7) % col("n")).as("v")))
    val und = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val edges = und.union(und.select(col("v").as("u"), col("u").as("v")))
      .persist() // q-cache
    var visited = d.sparkSession.range(1)
      .select(lit(0L).as("node"), lit(0).as("hops")).localCheckpoint()
    var frontier = visited
    var rounds = 0
    var frontierSize = 1L
    while (frontierSize > 0 && rounds < maxRounds) {
      // (r14-opt: keeping `visited` as a growing union of checkpointed
      // frontiers instead of re-checkpointing it was tried — the per-round
      // anti-join plan then grows with the round count and the added
      // planning cost measured LARGER than the checkpoint job it saved;
      // reverted to the full-copy checkpoint.)
      val (next, fs) = checkpointWithMetric("graphBfs",
        frontier
          .join(edges, col("node") === col("u"))
          .select(col("v").as("node"), (col("hops") + 1).as("hops"))
          .groupBy(col("node")).agg(min(col("hops")).as("hops"))
          .join(visited.select(col("node")), Seq("node"), "left_anti"),
        count(lit(1)))
      frontierSize = fs
      // skip the final visited copy once the frontier drained: an empty
      // `next` adds nothing and the union's only consumer is the next
      // round's anti-join (guide §1.2)
      if (frontierSize > 0)
        visited = visited.union(next).localCheckpoint()
      frontier = next
      rounds += 1
    }
    if (frontierSize > 0)
      throw new IllegalStateException(
        s"graphBfs did not drain the frontier within $maxRounds rounds")
    visited.orderBy(col("node"))
  }

  /** Landmark harmonic centrality (Boldi & Vigna "Axioms for Centrality"
    * 2014; pivot scheme after Eppstein & Wang SODA 2001) over the derived
    * doc graph ([[graphBfs]]'s edge set): exact all-pairs centrality is
    * O(n·m) and off the table at corpus scale, so the standard move is a
    * deterministic landmark set (here `doc_id % 97 == 0` — size grows
    * with the corpus, ~n/97) and ONE multi-source BFS that carries the
    * source id in the frontier key. Per landmark, harmonic centrality
    * within the hop horizon H=6 is Σ_{0<d(s,v)≤H} 1/d — computed as the
    * exact integer Σ 2520 div d (2520 = lcm(1..6), the same
    * denominator-clearing trick as VectorOps' MAP@10), so the hash oracle
    * never sees a float. The horizon is not a concession: harmonic
    * centrality's 1/d terms beyond 6 hops contribute < 1/7 each and
    * truncated-horizon harmonic ("h-index centrality") is itself a
    * published variant; operationally it bounds the frontier state to
    * landmarks × reachable₆.
    *
    * Plan shape at scale: state is (src, node, hops) — a key-partitioned
    * relation, never driver-resident; each round is one frontier⋈edges
    * shuffle + a min-merge + a left-anti visited check, lineage cut per
    * round via localCheckpoint (the [[connectedComponents]] discipline).
    * K landmarks ride ONE plan (the src column just widens the key), so
    * the cluster amortizes scheduling over all sources instead of looping
    * K BFS jobs. */
  def harmonicLandmarks(s: SparkSession, dir: String,
      maxHops: Int = 6): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val raw = withN.select(col("doc_id").as("u"),
        ((col("doc_id") + 1) % col("n")).as("v"))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") + 2) % col("n")).as("v")))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") * 31 + 7) % col("n")).as("v")))
    val und = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val edges = und.union(und.select(col("v").as("u"), col("u").as("v")))
      .persist() // q-cache
    val lm = d.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("src"))
    // Fixed small horizon ⇒ re-expand-and-min-merge beats settled-set
    // pruning: [[graphBfs]]'s frontier discipline (anti-join vs visited +
    // two localCheckpoints + a count per round) pays 3 extra jobs per
    // round to avoid re-joining settled nodes — worth it when rounds are
    // unbounded, but at H=6 the redundant fanout is ≤ 6× a node-count-
    // sized relation while the saved machinery is 12 of 18 jobs
    // (measured 14.2 → 5-7 s solo at sf0.1; edges broadcast). One
    // localCheckpoint per round is still REQUIRED — reach is referenced
    // twice per round, so without a materialization the recompute tree
    // doubles per hop (measured 2^H blowup: 27-50 s at H=6).
    var reach = lm.select(col("src"), col("src").as("node"),
      lit(0L).as("hops")).localCheckpoint()
    for (_ <- 1 to maxHops) {
      reach = reach.union(
          reach.join(broadcast(edges), col("node") === col("u"))
            .select(col("src"), col("v").as("node"),
              (col("hops") + 1L).as("hops")))
        .groupBy(col("src"), col("node")).agg(min(col("hops")).as("hops"))
        .localCheckpoint()
    }
    reach.groupBy(col("src"))
      .agg((count(lit(1)) - 1L).as("n_reached"),
        sum(when(col("hops") > 0L, expr("2520 div hops"))
          .otherwise(0L)).cast("long").as("harmonic_x2520"))
      .orderBy(col("src"))
  }

  /** Landmark shortest-path COUNTING — the Brandes (2001) forward pass:
    * σ(v) = number of distinct shortest landmark→v paths, computed
    * layer-by-layer (σ(v) = Σ σ(u) over previous-layer neighbors u; a
    * node's count is fixed the first layer it is reached). Where
    * [[harmonicLandmarks]] needs only DISTANCES (re-expand-and-min-merge
    * is safe there), path counts would MULTIPLY under re-expansion, so
    * this op keeps the settled-set discipline: candidates come from the
    * previous frontier only, an anti-join against the settled union
    * blocks re-counting, and only the frontier is checkpointed (the
    * settled set is a union of already-materialized frames — no
    * recompute tree). All σ are exact integers; K landmarks ride one
    * iterative plan. σ is the input to betweenness/dependency
    * accumulation and the standard "how redundant is this hub"
    * connectivity audit. */
  def pathCounts(s: SparkSession, dir: String, maxHops: Int = 6): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val raw = withN.select(col("doc_id").as("u"),
        ((col("doc_id") + 1) % col("n")).as("v"))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") + 2) % col("n")).as("v")))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") * 31 + 7) % col("n")).as("v")))
    val und = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val edges = und.union(und.select(col("v").as("u"), col("u").as("v")))
      .persist() // released
    var frontier = d.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("landmark"), col("doc_id").as("node"),
        lit(0L).as("dist"), lit(1L).as("sigma"))
      .localCheckpoint()
    var settled = frontier
    for (k <- 1 to maxHops) {
      val cand = frontier.join(broadcast(edges), col("node") === col("u"))
        .groupBy(col("landmark"), col("v"))
        .agg(sum(col("sigma")).as("sigma"))
      val st = settled.select(col("landmark").as("slm"), col("node").as("sn"))
      frontier = cand.join(st,
          col("landmark") === col("slm") && col("v") === col("sn"),
          "left_anti")
        .select(col("landmark"), col("v").as("node"),
          lit(k.toLong).as("dist"), col("sigma"))
        .localCheckpoint()
      settled = settled.union(frontier)
    }
    // every round was eagerly localCheckpointed, so the returned plan
    // reads only checkpointed RDDs — release the cached edge frame now
    // instead of leaking it into the 373-query driver sweep
    edges.unpersist()
    settled.orderBy(col("landmark"), col("node"))
  }

  /** Degree assortativity (Newman PRL 2002) over the tree + quadratic-
    * hash doc graph ([[kCore]]'s edge set — chosen over [[graphBfs]]'s
    * ring graph, which is exactly 6-regular and therefore has UNDEFINED
    * assortativity): the Pearson correlation of endpoint degrees across
    * all directed edge instances — positive means hubs attach to hubs
    * (social-network-like), negative means hub-and-spoke
    * (internet-like); the one-number structural summary that decides
    * whether degree-ordered orientation ([[triangleCount]]) or hub
    * splitting ([[Skew]]) is the right skew defense. Degrees are exact
    * integers from one grouped pass; the correlation is moment algebra
    * over the edge relation. */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val raw = withN.filter(col("doc_id") > 0)
      .select(col("doc_id").as("u"), expr("doc_id div 2").as("v"))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") * col("doc_id") + 1) % col("n")).as("v")))
    val und = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val sym = und.union(und.select(col("v").as("u"), col("u").as("v")))
      .persist() // q-cache
    val deg = sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
    val ed = sym
      .join(deg.select(col("node").as("u"), col("deg").as("dx")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dy")), "v")
      .select(col("dx").cast("double").as("x"),
        col("dy").cast("double").as("y"))
    ed.agg(count(lit(1)).as("n_edges"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"),
        avg(col("x") * col("x")).as("mxx"),
        avg(col("y") * col("y")).as("myy"),
        avg(col("x") * col("y")).as("mxy"))
      .select(col("n_edges"), round(col("mx"), 6).as("mean_deg"),
        round((col("mxy") - col("mx") * col("my"))
          / (sqrt(col("mxx") - col("mx") * col("mx"))
            * sqrt(col("myy") - col("my") * col("my"))), 6)
          .as("assortativity"))
  }

  /** Oracle-side path-cost cap for [[sssp]]: true shortest costs are
    * bounded by hop-diameter × max weight (≈ 8 × 5 on this topology), so
    * 60 leaves slack while keeping the recursive oracle's (node, dist)
    * state space finite. The Spark side PROVES the bound — it throws if
    * any converged distance exceeds it. */
  private val SsspCostCap = 60

  /** Weighted single-source shortest paths (source = node 0) over the
    * derived doc graph ([[graphBfs]]'s edge set) with deterministic
    * per-edge weights w = 1 + (u·7 + v·13) mod 5 on the canonical u<v
    * orientation — distributed Bellman–Ford with frontier pruning: each
    * round relaxes ONLY edges out of nodes whose tentative distance
    * improved last round (Δ-stepping's degenerate single-bucket form), so
    * a converged region stops generating traffic. Rounds ≤ weighted
    * diameter; each is one frontier⋈edges join + a min-merge — the
    * Pregel/GraphX SSSP shape without driver-side state, lineage cut per
    * round via localCheckpoint exactly like [[connectedComponents]].
    * The oracle re-derives every distance through a recursive CTE whose
    * UNION-dedup on (node, dist) is kept finite by [[SsspCostCap]]. */
  def sssp(s: SparkSession, dir: String, maxRounds: Int = 30): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val raw = withN.select(col("doc_id").as("u"),
        ((col("doc_id") + 1) % col("n")).as("v"))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") + 2) % col("n")).as("v")))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") * 31 + 7) % col("n")).as("v")))
    val und = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .withColumn("w", lit(1) + (col("u") * 7 + col("v") * 13) % 5)
    val edges = und.union(und.select(col("v"), col("u"), col("w")))
      .persist() // q-cache
    var best = d.sparkSession.range(1)
      .select(lit(0L).as("node"), lit(0L).as("dist")).localCheckpoint()
    var frontier = best
    var rounds = 0
    var active = 1L
    while (active > 0 && rounds < maxRounds) {
      val relaxed = frontier.join(edges, col("node") === col("u"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      val merged = best.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      val (improved, act) = checkpointWithMetric("sssp",
        merged.join(best, Seq("node", "dist"), "left_anti"),
        count(lit(1)))
      active = act
      best = merged
      frontier = improved
      rounds += 1
    }
    if (active > 0)
      throw new IllegalStateException(
        s"sssp did not converge within $maxRounds rounds")
    val over = best.filter(col("dist") > SsspCostCap).count()
    if (over > 0)
      throw new IllegalStateException(
        s"sssp: $over nodes exceed the $SsspCostCap oracle cost cap")
    best.orderBy(col("node"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar, Social Networks 2003)
    * over the derived doc graph (same edges as [[triangleCount]]): for
    * each NON-adjacent pair with ≥1 common neighbor, score =
    * Σ_z 1/ln(deg z) over common neighbors z — the classic
    * common-neighbor scorer that down-weights hub intermediaries. Top 20
    * predicted links.
    *
    * Plan: the wedge self-join on the shared endpoint (the SAME shape as
    * [[triangleCount]]'s wedge stage — fan-out bounded by Σ deg², and on
    * skewed graphs the degree-capped variant of that trick applies), a
    * LEFT ANTI join against the edge list to keep non-adjacent pairs
    * only, then one (x, y) aggregate. Every common neighbor has deg ≥ 2
    * by construction (it touches both endpoints), so ln(deg) is never 0.
    * deg comes pre-aggregated (node-count-sized dim) and joins the wedge
    * on its shared endpoint BEFORE pair aggregation, so the scorer needs
    * no second pass. Fully oracle-checked: same construction in SQL,
    * round(…, 9) absorbs float-sum ordering (≤ max-deg ~O(1) terms). */
  def adamicAdar(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val raw = withN.select(col("doc_id").as("u"),
        ((col("doc_id") + 1) % col("n")).as("v"))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") + 2) % col("n")).as("v")))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") * 31 + 7) % col("n")).as("v")))
    val und = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .persist() // q-cache
    und.count() // eager: 4 sibling-stage consumers (see Tables.pinned)
    val sym = und.union(und.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("z")).agg(count(lit(1)).as("deg"))
    // wedges through z: (x, z) ⋈ (z, y), x < y canonical; weight by z's
    // degree at wedge time (one broadcast-sized dim join)
    val wedges = sym.select(col("v").as("z"), col("u").as("x"))
      .join(sym.select(col("u").as("z"), col("v").as("y")), "z")
      .filter(col("x") < col("y"))
      .join(deg, "z")
    wedges
      .join(und.select(col("u").as("x"), col("v").as("y")),
        Seq("x", "y"), "left_anti")
      .groupBy(col("x"), col("y"))
      .agg(round(sum(lit(1.0) / log(col("deg").cast("double"))), 9)
        .as("aa_score"),
        count(lit(1)).as("common_neighbors"))
      .orderBy(col("aa_score").desc, col("x"), col("y"))
      .limit(20)
  }

  /** k-core peeling over an UNDIRECTED edge list (u, v): repeatedly drop
    * every node whose degree within the surviving subgraph is < k until no
    * node changes — the classic distributed peel (one round = restrict the
    * edge list to survivors with two semi joins, recompute degrees with one
    * groupBy, filter). The edge relation SHRINKS monotonically, so later
    * rounds get cheaper; `localCheckpoint` per round cuts lineage exactly
    * like [[connectedComponents]]; a loud cap failure guards the loop (a
    * silent cap would return a superset of the core). Rounds-to-fixpoint is
    * bounded by the longest peel cascade — degeneracy-ordered graphs peel
    * in O(peel depth), 6 on the derived fixture at BOTH sf0.01 and sf0.1.
    * Returns (node, core_deg) — survivors with their within-core degree. */
  private[graft] def kCoreOf(und: DataFrame, k: Int,
                             maxRounds: Int = 30): DataFrame = {
    var cur = und.localCheckpoint()
    var n = -1L
    var rounds = 0
    while (rounds < maxRounds) {
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val surv = sym.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
      val (next, m) = checkpointWithMetric("kCoreOf",
        cur
          .join(surv.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(surv.select(col("node").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v")),
        count(lit(1)))
      rounds += 1
      if (m == n) {
        val symF = next.union(next.select(col("v").as("u"), col("u").as("v")))
        return symF.groupBy(col("u").as("node"))
          .agg(count(lit(1)).as("core_deg"))
          .orderBy(col("node"))
      }
      n = m
      cur = next
    }
    throw new IllegalStateException(
      s"kCoreOf did not reach a fixpoint within $maxRounds rounds")
  }

  /** k=3 core of a degree-SKEWED derived doc graph (binary-tree spine
    * doc_id → ⌊doc_id/2⌋ plus a quadratic-hash shortcut doc_id →
    * (doc_id² + 1) mod N; degrees 1–24 on the fixture, so peeling
    * genuinely cascades — leaves peel first, exposing their parents, 6
    * rounds to fixpoint; 230/500 nodes survive at sf0.01). Fully
    * ORACLE-CHECKED despite being iterative: the peel unrolls to 10
    * identical-arithmetic CTE rounds in DuckDB — fixpoint (6) + margin;
    * peeling is monotone, so extra unrolled rounds past the fixpoint are
    * provably no-ops and the unrolled result equals the Spark fixpoint. */
  def kCore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val raw = withN.filter(col("doc_id") > 0)
      .select(col("doc_id").as("u"), expr("doc_id div 2").as("v"))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") * col("doc_id") + 1) % col("n")).as("v")))
    val und = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    kCoreOf(und, k = 3)
  }

  /** DuckDB twin of [[kCore]]: 10 unrolled peel rounds (fixpoint + margin;
    * monotonicity makes the extra rounds no-ops). Every round CTE is
    * MATERIALIZED — each round references its predecessor twice (u IN, v
    * IN), so default CTE inlining would expand the plan tree 2^10-fold
    * (and reopen the parquet per leaf: "too many open files" long before
    * it would finish). */
  private[graft] def kCoreOracleSql(table: String): String = {
    val rounds = (1 to 10).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT u AS node FROM sym
         |  WHERE u IN (SELECT node FROM s${i - 1})
         |    AND v IN (SELECT node FROM s${i - 1})
         |  GROUP BY u HAVING count(*) >= 3)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $table),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM (
       |  SELECT doc_id AS u, doc_id // 2 AS v FROM $table WHERE doc_id > 0
       |  UNION ALL
       |  SELECT doc_id, (doc_id * doc_id + 1) % (SELECT n FROM nn)
       |  FROM $table) WHERE u <> v),
       |sym AS MATERIALIZED (
       |  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |s0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym),
       |$rounds
       |SELECT u AS node, CAST(count(*) AS BIGINT) AS core_deg FROM sym
       |WHERE u IN (SELECT node FROM s10) AND v IN (SELECT node FROM s10)
       |GROUP BY u ORDER BY u""".stripMargin
  }

  /** Synchronous label-propagation communities (Raghavan, Albert & Kumara,
    * Phys. Rev. E 2007) over the same tree+quadratic doc graph as
    * [[kCore]], made fully DETERMINISTIC — and therefore oracle-checkable
    * — by (a) a fixed 4 synchronous rounds instead of the paper's
    * randomized asynchronous sweep, and (b) a (max count, min label)
    * tie-break. Each round is one join of the symmetric edge list against
    * the label relation, one (node, label) count, and one arg-min —
    * `min_by(lab, struct(-cnt, lab))` keeps the per-node pick a pure
    * aggregate (no per-node sort window), so a round costs two keyed
    * exchanges regardless of degree skew. The oracle unrolls the 4 rounds
    * as MATERIALIZED CTEs with a row_number tie-break — same pick,
    * different machinery, value-identical. */
  /** The propagation loop of [[labelPropagation]], over any undirected
    * edge list — factored out so specs can pin crafted-graph rounds. */
  private[graft] def labelPropOf(nodes: DataFrame, und: DataFrame,
                                 rounds: Int = 4): DataFrame = {
    val sym = und.union(und.select(col("v").as("u"), col("u").as("v")))
      .persist() // q-cache
    var labels = nodes.select(col("node"), col("node").as("lab"))
    for (_ <- 1 to rounds) {
      labels = sym
        .join(labels.select(col("node").as("v"), col("lab")), "v")
        .groupBy(col("u"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("u").as("node"))
        .agg(expr("min_by(lab, struct(-cnt, lab))").as("lab"))
    }
    labels.select(col("node"), col("lab").as("community"))
      .orderBy(col("node"))
  }

  /** The undirected tree+quadratic doc graph shared by the community
    * queries ([[labelPropagation]], [[modularity]], [[louvainMove]]):
    * tree edge doc→⌊doc/2⌋ plus quadratic edge doc→(doc²+1) mod n,
    * deduplicated as (least, greatest) pairs. */
  private def docUndirected(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val raw = withN.filter(col("doc_id") > 0)
      .select(col("doc_id").as("u"), expr("doc_id div 2").as("v"))
      .union(withN.select(col("doc_id"),
        ((col("doc_id") * col("doc_id") + 1) % col("n")).as("v")))
    raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
  }

  private val comMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** The 4-round label-propagation community relation computed ONCE per
    * (session, dir) and persisted to parquet, then shared by its three
    * consumers — [[labelPropagation]], [[modularity]], [[louvainMove]] —
    * the [[AffineSketch.minhashCandEst]] shared-derived-relation
    * discipline (disk, not `.persist()`: harnesses clear the cache
    * between queries). Deterministic, so no consumer's hash oracle
    * depends on which one triggered the write. */
  private def docCommunities(s: SparkSession, dir: String): DataFrame =
    comMemo.computeIfAbsent((s, dir), _ => {
      val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
      val out = s"${Tables.workDir(s)}/doc_communities_$safe.parquet"
      val d = docs(s, dir).select(col("doc_id"))
      labelPropOf(d.select(col("doc_id").as("node")), docUndirected(s, dir))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    })

  def labelPropagation(s: SparkSession, dir: String): DataFrame =
    docCommunities(s, dir).orderBy(col("node"))

  /** Exact-integer Newman–Girvan modularity (Newman & Girvan, Phys. Rev.
    * E 2004) of the [[labelPropagation]] communities, per community:
    * Q = Σ_c [e_c/m − (d_c/2m)²] reported as the integer numerator
    * q_num_c = 4·m·e_c − d_c² over the common denominator 4m² — every
    * column is an exact int64 (e_c = intra-community undirected edges,
    * d_c = degree sum, m = |E|), so the quality of a community
    * assignment is hash-comparable with no float anywhere; Σ q_num / 4m²
    * recovers Q. One edge-relation join against the community relation
    * on each endpoint (broadcast-sized right sides at any scale: the
    * community relation is node-grain) and two keyed aggregates. */
  def modularity(s: SparkSession, dir: String): DataFrame = {
    val und = docUndirected(s, dir)
    val coms = docCommunities(s, dir)
    val sym = und.union(und.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val mAgg = und.agg(count(lit(1)).as("m"))
    val internal = und
      .join(coms.select(col("node").as("u"), col("community").as("cu")), "u")
      .join(coms.select(col("node").as("v"), col("community").as("cv")), "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("e_c"))
    val dsum = coms.join(deg, Seq("node"), "left").na.fill(0L, Seq("d"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("size"), sum(col("d")).as("d_c"))
    dsum.join(internal, Seq("community"), "left").na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(mAgg))
      .select(col("community"), col("size"), col("e_c"), col("d_c"),
        (lit(4) * col("m") * col("e_c") - col("d_c") * col("d_c"))
          .as("q_num"),
        col("m"))
      .orderBy(col("community"))
  }

  /** One synchronous Louvain local-move round (Blondel et al., J. Stat.
    * Mech. 2008 §2) refining the [[labelPropagation]] communities: every
    * node i evaluates each neighboring community C ≠ A(i) with the
    * standard gain ΔQ(i: A→C) — here scaled by the positive constant 2m²
    * so it stays an exact int64,
    * g = 2m·(k_iC − k_iA) − k_i·(Σ_tot(C) − Σ_tot(A) + k_i) —
    * and moves to the argmax when g > 0 (tie-break: max g, then min
    * community id), else stays. Synchronous decisions on the OLD labels
    * keep the round deterministic and oracle-checkable (the sequential
    * sweep of the paper is inherently order-dependent). Shapes: one
    * (node, neighbor-community) count off the symmetric edge list, two
    * node-grain joins, one `min_by` argmax aggregate — no window over the
    * full candidate relation, no quadratic candidate space (candidates
    * are bounded by degree). */
  def louvainMove(s: SparkSession, dir: String): DataFrame = {
    val und = docUndirected(s, dir)
    val coms = docCommunities(s, dir)
    val sym = und.union(und.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val mAgg = und.agg(count(lit(1)).as("m"))
    val sig = coms.join(deg, Seq("node"), "left").na.fill(0L, Seq("d"))
      .groupBy(col("community")).agg(sum(col("d")).as("sigc"))
    val kuc = sym
      .join(coms.select(col("node").as("v"), col("community").as("c")), "v")
      .groupBy(col("u"), col("c")).agg(count(lit(1)).as("k_uc"))
    val own = coms.select(col("node").as("u"), col("community").as("a"))
    val base = own
      .join(deg.select(col("node").as("u"), col("d").as("k")), Seq("u"), "left")
      .na.fill(0L, Seq("k"))
      .join(kuc.select(col("u"), col("c").as("a"), col("k_uc").as("k_ua")),
        Seq("u", "a"), "left")
      .na.fill(0L, Seq("k_ua"))
      .join(sig.select(col("community").as("a"), col("sigc").as("sig_a")),
        Seq("a"))
    val cand = base
      .join(kuc, Seq("u")).filter(col("c") =!= col("a"))
      .join(sig.select(col("community").as("c"), col("sigc")), Seq("c"))
      .crossJoin(broadcast(mAgg))
      .select(col("u"), col("a"), col("c"),
        (lit(2) * col("m") * (col("k_uc") - col("k_ua")) -
          col("k") * (col("sigc") - col("sig_a") + col("k"))).as("g"))
    val best = cand.groupBy(col("u"))
      .agg(expr("min_by(struct(c, g), struct(-g, c))").as("bc"))
      .select(col("u"), col("bc.c").as("c"), col("bc.g").as("g"))
    own.join(best, Seq("u"), "left")
      .select(col("u").as("node"), col("a").as("old_community"),
        when(col("g") > 0, col("c")).otherwise(col("a")).as("new_community"),
        when(col("g") > 0, col("g")).otherwise(lit(0L)).as("gain_num"))
      .orderBy(col("node"))
  }

  /** HITS hubs & authorities (Kleinberg JACM'99) over a DIRECTED node/edge
    * relation, run UNNORMALIZED for `rounds` mutual-reinforcement rounds:
    * a_i(v) = Σ_{u→v} h_{i-1}(u), h_i(u) = Σ_{u→v} a_i(v). Skipping the
    * per-round normalization keeps every score an exact INTEGER (degrees
    * are small, so 3 rounds stay far below 2^63) — rankings are identical
    * to normalized HITS (normalization is a positive scalar per round) and
    * the DuckDB twin hash-matches bit-exactly, no float drift anywhere.
    * Each round is two keyed join+agg exchanges; zero-fill left joins keep
    * sink/source nodes (no in/out edges) in the relation. */
  private[graft] def hitsOf(nodes: DataFrame, edges: DataFrame,
                            rounds: Int = 3): DataFrame = {
    val e = edges.persist() // q-cache
    var h = nodes.select(col("node"), lit(1L).as("h"))
    var a = nodes.select(col("node"), lit(0L).as("a"))
    for (_ <- 1 to rounds) {
      a = nodes.select(col("node"))
        .join(e.join(h.select(col("node").as("u"), col("h")), "u")
          .groupBy(col("v").as("node")).agg(sum(col("h")).as("a")),
          Seq("node"), "left")
        .na.fill(0L, Seq("a"))
      h = nodes.select(col("node"))
        .join(e.join(a.select(col("node").as("v"), col("a")), "v")
          .groupBy(col("u").as("node")).agg(sum(col("a")).as("h")),
          Seq("node"), "left")
        .na.fill(0L, Seq("h"))
    }
    a.join(h, "node")
      .select(col("node"), col("a").as("authority"), col("h").as("hub"))
      .orderBy(col("node"))
  }

  /** HITS over the synthetic doc graph, DIRECTED as generated (tree edge
    * doc→parent, quadratic edge doc→(doc²+1) mod n) — the direction the
    * link-prediction and community queries discard. 3 exact integer
    * rounds; oracle = unrolled MATERIALIZED CTE rounds (same pattern as
    * [[labelPropagation]]). */
  def hits(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val nAgg = d.agg(count(lit(1)).as("n"))
    val withN = d.crossJoin(broadcast(nAgg))
    val e = withN.filter(col("doc_id") > 0)
      .select(col("doc_id").as("u"), expr("doc_id div 2").as("v"))
      .union(withN.select(col("doc_id").as("u"),
        ((col("doc_id") * col("doc_id") + 1) % col("n")).as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
    hitsOf(d.select(col("doc_id").as("node")), e)
  }

  /** DuckDB twin of [[hits]]: 3 unrolled a/h rounds over the directed
    * edge relation; HUGEINT sums cast back to BIGINT. */
  private[graft] def hitsOracleSql(table: String): String = {
    val rounds = (1 to 3).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT t.doc_id AS node, coalesce(s.a, 0) AS a
         |  FROM $table t LEFT JOIN (
         |    SELECT e.v, CAST(sum(h.h) AS BIGINT) AS a
         |    FROM e JOIN h${i - 1} h ON e.u = h.node GROUP BY e.v) s
         |  ON t.doc_id = s.v),
         |h$i AS MATERIALIZED (
         |  SELECT t.doc_id AS node, coalesce(s.h, 0) AS h
         |  FROM $table t LEFT JOIN (
         |    SELECT e.u, CAST(sum(a.a) AS BIGINT) AS h
         |    FROM e JOIN a$i a ON e.v = a.node GROUP BY e.u) s
         |  ON t.doc_id = s.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $table),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT doc_id AS u, doc_id // 2 AS v FROM $table WHERE doc_id > 0
       |    UNION ALL
       |    SELECT doc_id, (doc_id * doc_id + 1) % (SELECT n FROM nn)
       |    FROM $table) WHERE u <> v),
       |h0 AS MATERIALIZED (SELECT doc_id AS node, CAST(1 AS BIGINT) AS h FROM $table),
       |$rounds
       |SELECT a3.node, a3.a AS authority, h3.h AS hub
       |FROM a3 JOIN h3 ON a3.node = h3.node
       |ORDER BY a3.node""".stripMargin
  }

  /** Shared DuckDB CTE prefix for the doc-graph community oracles
    * ([[labelPropagationOracleSql]], [[modularityOracleSql]],
    * [[louvainMoveOracleSql]]): the undirected tree+quadratic edge list
    * `e`, its symmetric closure `sym`, and 4 unrolled label-propagation
    * rounds — `l4` is the community relation [[labelPropOf]] computes
    * (row_number tie-break (cnt DESC, lab) ≡ min_by(lab, (-cnt, lab))). */
  private def lpCtePrefix(table: String): String = {
    val rounds = (1 to 4).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT u AS node, lab,
         |      row_number() OVER (PARTITION BY u ORDER BY cnt DESC, lab) AS rk
         |    FROM (SELECT u, lab, count(*) AS cnt
         |          FROM sym JOIN l${i - 1} ON sym.v = l${i - 1}.node
         |          GROUP BY u, lab))
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $table),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM (
       |  SELECT doc_id AS u, doc_id // 2 AS v FROM $table WHERE doc_id > 0
       |  UNION ALL
       |  SELECT doc_id, (doc_id * doc_id + 1) % (SELECT n FROM nn)
       |  FROM $table) WHERE u <> v),
       |sym AS MATERIALIZED (
       |  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lab FROM $table),
       |$rounds""".stripMargin
  }

  /** DuckDB twin of [[labelPropagation]]. */
  private[graft] def labelPropagationOracleSql(table: String): String =
    s"""${lpCtePrefix(table)}
       |SELECT node, lab AS community FROM l4 ORDER BY node""".stripMargin

  /** DuckDB twin of [[modularity]]: per-community exact-integer
    * modularity numerators over the l4 communities. */
  private[graft] def modularityOracleSql(table: String): String =
    s"""${lpCtePrefix(table)},
       |coms AS MATERIALIZED (SELECT node, lab AS community FROM l4),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       |deg AS MATERIALIZED (
       |  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
       |internal AS (
       |  SELECT c1.community, CAST(count(*) AS BIGINT) AS e_c
       |  FROM e JOIN coms c1 ON e.u = c1.node JOIN coms c2 ON e.v = c2.node
       |  WHERE c1.community = c2.community GROUP BY c1.community),
       |dsum AS (
       |  SELECT c.community, CAST(count(*) AS BIGINT) AS size,
       |         CAST(sum(coalesce(deg.d, 0)) AS BIGINT) AS d_c
       |  FROM coms c LEFT JOIN deg ON c.node = deg.node GROUP BY c.community)
       |SELECT d.community, d.size, CAST(coalesce(i.e_c, 0) AS BIGINT) AS e_c,
       |       d.d_c,
       |       4 * mm.m * coalesce(i.e_c, 0) - d.d_c * d.d_c AS q_num, mm.m
       |FROM dsum d LEFT JOIN internal i ON d.community = i.community, mm
       |ORDER BY d.community""".stripMargin

  /** DuckDB twin of [[louvainMove]]: the same scaled-integer ΔQ argmax,
    * via row_number (g DESC, c) ≡ min_by(struct(c,g), struct(-g,c)). */
  private[graft] def louvainMoveOracleSql(table: String): String =
    s"""${lpCtePrefix(table)},
       |coms AS MATERIALIZED (SELECT node, lab AS community FROM l4),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       |deg AS MATERIALIZED (
       |  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
       |sig AS MATERIALIZED (
       |  SELECT c.community, CAST(sum(coalesce(deg.d, 0)) AS BIGINT) AS sigc
       |  FROM coms c LEFT JOIN deg ON c.node = deg.node GROUP BY c.community),
       |kuc AS MATERIALIZED (
       |  SELECT sym.u, cv.lab AS c, CAST(count(*) AS BIGINT) AS k_uc
       |  FROM sym JOIN l4 cv ON sym.v = cv.node GROUP BY sym.u, cv.lab),
       |own AS (SELECT node AS u, community AS a FROM coms),
       |base AS (
       |  SELECT o.u, o.a, coalesce(deg.d, 0) AS k,
       |         coalesce(ka.k_uc, 0) AS k_ua, sa.sigc AS sig_a
       |  FROM own o
       |  LEFT JOIN deg ON o.u = deg.node
       |  LEFT JOIN kuc ka ON ka.u = o.u AND ka.c = o.a
       |  JOIN sig sa ON sa.community = o.a),
       |cand AS (
       |  SELECT b.u, b.a, k.c,
       |         2 * mm.m * (k.k_uc - b.k_ua) -
       |         b.k * (s.sigc - b.sig_a + b.k) AS g
       |  FROM base b JOIN kuc k ON k.u = b.u AND k.c <> b.a
       |  JOIN sig s ON s.community = k.c, mm),
       |best AS (
       |  SELECT u, c, g FROM (
       |    SELECT u, c, g,
       |      row_number() OVER (PARTITION BY u ORDER BY g DESC, c) AS rk
       |    FROM cand) WHERE rk = 1)
       |SELECT o.u AS node, o.a AS old_community,
       |       CASE WHEN b.g > 0 THEN b.c ELSE o.a END AS new_community,
       |       CAST(CASE WHEN b.g > 0 THEN b.g ELSE 0 END AS BIGINT) AS gain_num
       |FROM own o LEFT JOIN best b ON o.u = b.u
       |ORDER BY node""".stripMargin

  /** Per-rule filter attribution for the quality-gate stack — when a
    * curation run drops 12% of the corpus, this answers WHICH gate did it
    * and which docs only one gate catches (the rules worth tuning). Four
    * gates on proven-parity metrics (too short, stopword-starved,
    * overlong words, low type-token ratio); one corpus scan computes the
    * per-doc flag vector, ONE aggregate folds every rule's fail/sole
    * count, and `stack` unpivots the single agg row — no per-rule
    * re-scan. */
  def filterAttribution(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    val fexp = org.apache.spark.sql.functions.filter(_: Column, _: Column => Column)
    val t = docs(s, dir).withColumn("tokens", split(col("text"), " "))
    val nTok = size(col("tokens"))
    val flags = t.select(
      (nTok < 20).as("f_short"),
      (size(fexp(col("tokens"), x => x.isInCollection(stop)))
        .cast("double") / nTok < 0.02).as("f_stop"),
      ((col("n_chars") - (nTok - lit(1))).cast("double") / nTok > 4.8)
        .as("f_words"),
      (size(array_distinct(col("tokens"))).cast("double") / nTok < 0.32)
        .as("f_ttr"))
      .withColumn("nf", col("f_short").cast("int") + col("f_stop").cast("int")
        + col("f_words").cast("int") + col("f_ttr").cast("int"))
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val agg = flags.agg(
      count(lit(1)).as("total"),
      cnt(col("f_short")).as("c_short"),
      cnt(col("f_short") && col("nf") === 1).as("s_short"),
      cnt(col("f_stop")).as("c_stop"),
      cnt(col("f_stop") && col("nf") === 1).as("s_stop"),
      cnt(col("f_words")).as("c_words"),
      cnt(col("f_words") && col("nf") === 1).as("s_words"),
      cnt(col("f_ttr")).as("c_ttr"),
      cnt(col("f_ttr") && col("nf") === 1).as("s_ttr"),
      cnt(col("nf") > 0).as("c_any"),
      cnt(col("nf") === 1).as("s_any"))
    agg.selectExpr(
      """stack(5,
        |  'any_rule', c_any, s_any,
        |    round(CAST(c_any AS DOUBLE) / total, 6),
        |  'long_words', c_words, s_words,
        |    round(CAST(c_words AS DOUBLE) / total, 6),
        |  'low_stopword', c_stop, s_stop,
        |    round(CAST(c_stop AS DOUBLE) / total, 6),
        |  'low_ttr', c_ttr, s_ttr,
        |    round(CAST(c_ttr AS DOUBLE) / total, 6),
        |  'short', c_short, s_short,
        |    round(CAST(c_short AS DOUBLE) / total, 6)
        |) AS (rule, n_fail, n_sole, fail_rate)""".stripMargin)
      .orderBy(col("rule"))
  }

  /** Cross-modal near-dup verification: exact bigram-Jaccard pairs
    * (lexical evidence, [[TextOps.jaccardPairs]]) joined with the cosine
    * of the pair's EMBEDDINGS (semantic evidence; vec_id aligns with
    * doc_id in the fixture) — the two-signal confirmation step a curation
    * pipeline runs before destructive dedup, since surface overlap and
    * embedding agreement fail in different ways. Embedding lookups are two
    * keyed equi joins against the candidate PAIRS (bounded by the
    * candidate set, never corpus²). Fully oracle-checked via
    * list_dot_product. */
  def hybridDedup(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.TextOps.jaccardPairs(s, dir)
      .select(col("id1"), col("id2"), col("jaccard"))
    val e = Tables(s, dir, "embeddings")
      .withColumn("norm", sqrt(GraftFunctions.dot(col("embedding"),
        col("embedding"))))
    pairs
      .join(e.select(col("vec_id").as("id1"), col("embedding").as("v1"),
        col("norm").as("n1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("embedding").as("v2"),
        col("norm").as("n2")), "id2")
      .withColumn("cosine", round(GraftFunctions.dot(col("v1"), col("v2"))
        / (col("n1") * col("n2")), 6))
      .select(col("id1"), col("id2"), col("jaccard"), col("cosine"),
        (col("cosine") >= 0.30).as("confirmed"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Deterministic content-hash train/val/test split (~80/10/10): bucket =
    * first byte of md5("graft-split:" || doc_id), compared lexicographically
    * against hex thresholds ('cc' = 204/256 ≈ 80 %, 'e6' = 230/256 ≈ 90 %).
    * Hash-based splits are reproducible across runs, engines, and data
    * re-orderings — unlike rand() — and the split is a pure per-row map
    * (codegen'd md5, no shuffle), so at 100 TB it rides the scan. String
    * comparison of the hex prefix avoids hex→int conversion, which DuckDB
    * and Spark spell differently; md5 itself is bit-identical in both. */
  def hashSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("bucket", substring(
        md5(concat(lit("graft-split:"), col("doc_id").cast("string"))), 1, 2))
      .select(col("doc_id"), col("lang"),
        when(col("bucket") < "cc", "train")
          .when(col("bucket") < "e6", "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  /** Leakage-safe CLUSTER-AWARE splitting (the Lee et al. '22 §5
    * recommendation: near-duplicate documents straddling train/test
    * inflate eval — split by DUP CLUSTER, not by document). The whole
    * cluster lands in one split via an md5 draw on the cluster id
    * (80/10/10). The query
    * QUANTIFIES what this buys: under a naive per-document draw, every
    * dup group with members in ≥ 2 splits leaks — the cross-split pair
    * count Σ(n²−Σₛn_s²)/2 is computed exactly from integer per-split
    * member counts, and the same count under the cluster assignment is 0
    * BY CONSTRUCTION (hash-proven, not asserted). Clusters come from the
    * UNBLOCKED [[AffineSketch.minhashAffine]] near-dup pairs (est ≥ 0.5)
    * — the corpus's cross-language/source duplicates, which the
    * (lang, source)-blocked jaccard pairs deliberately exclude — run
    * through the same min-label CC as [[dupClusters]]. Plan: banded
    * candidate pairs + CC labels + per-row hash draws + bounded 3-row
    * aggregates. */
  def clusterSplit(s: SparkSession, dir: String): DataFrame = {
    def draw(prefix: String, c: Column): Column = {
      val u = conv(substring(md5(concat(lit(prefix), c.cast("string"))), 1, 6), 16, 10)
        .cast("long") % 100
      when(u < 80, "train").when(u < 90, "val").otherwise("test")
    }
    // the shared per-process candidate sketch (no orderBy — the pair set
    // is consumed as a graph, so the query-facing sort would be waste)
    val e = AffineSketch.minhashCandEst(s, dir)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("id1"), col("id2")).persist() // q-cache
    // CC only over the MATCHED subgraph (the goldenRecord seeding trick):
    // every unmatched doc is its own singleton cluster by definition
    val matched = e.select(col("id1").as("id"))
      .union(e.select(col("id2").as("id"))).distinct()
    val labels = connectedComponents(matched, e)
    val assigned = docs(s, dir).select(col("doc_id"))
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("lab"), col("doc_id")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        draw("graft-csplit:", col("cluster_id")).as("split"),
        draw("graft-csplit:", col("doc_id")).as("naive_split"))
      .persist() // q-cache
    // exact cross-split pair counts per text group: (n² − Σₛ n_s²) / 2
    def leak(splitCol: String): DataFrame =
      assigned.groupBy(col("cluster_id"), col(splitCol))
        .agg(count(lit(1)).as("ns"))
        .groupBy(col("cluster_id"))
        .agg(sum(col("ns")).as("n"), sum(col("ns") * col("ns")).as("ss"))
        .agg((sum(col("n") * col("n") - col("ss")) / lit(2)).cast("long")
          .as(s"leak_$splitCol"))
    val perSplit = assigned.groupBy(col("split"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))
    val naiveSizes = assigned.groupBy(col("naive_split").as("split"))
      .agg(count(lit(1)).as("naive_docs"))
    // full outer: a split bucket can be empty under ONE of the two
    // assignments (an 80/10/10 per-cluster draw on a small corpus), and
    // that split must surface as a zero-count row, not silently vanish
    perSplit.join(naiveSizes, Seq("split"), "full_outer")
      .crossJoin(broadcast(leak("split")))
      .crossJoin(broadcast(leak("naive_split")))
      .select(col("split"),
        coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("naive_docs"), lit(0L)).as("naive_docs"),
        col("leak_split").as("leak_pairs_cluster"),
        col("leak_naive_split").as("leak_pairs_naive"))
      .orderBy(col("split"))
  }

  private def clusterSplitOracle: String =
    s"""WITH RECURSIVE mp AS (
       |  SELECT id1, id2 FROM (${graft.ops.AffineSketch.oracleSql("q_minhash_affine")})
       |), edges AS (
       |  SELECT id1, id2 FROM mp
       |  UNION ALL
       |  SELECT id2, id1 FROM mp
       |), reach AS (
       |  SELECT doc_id AS id, doc_id AS lab FROM documents
       |  UNION
       |  SELECT r.id, e.id2 FROM reach r JOIN edges e ON r.lab = e.id1
       |), cl AS (
       |  SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY id
       |), a AS (
       |  SELECT doc_id, cluster_id,
       |    CASE WHEN ('0x'||substr(md5('graft-csplit:'||cluster_id),1,6))::BIGINT % 100 < 80 THEN 'train'
       |         WHEN ('0x'||substr(md5('graft-csplit:'||cluster_id),1,6))::BIGINT % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    CASE WHEN ('0x'||substr(md5('graft-csplit:'||doc_id),1,6))::BIGINT % 100 < 80 THEN 'train'
       |         WHEN ('0x'||substr(md5('graft-csplit:'||doc_id),1,6))::BIGINT % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS naive_split
       |  FROM cl
       |), lc AS (
       |  SELECT CAST(sum(n*n - ss) // 2 AS BIGINT) AS leak_pairs_cluster FROM (
       |    SELECT cluster_id, sum(ns) AS n, sum(ns*ns) AS ss FROM (
       |      SELECT cluster_id, split, count(*) AS ns FROM a GROUP BY 1, 2)
       |    GROUP BY cluster_id)
       |), ln2 AS (
       |  SELECT CAST(sum(n*n - ss) // 2 AS BIGINT) AS leak_pairs_naive FROM (
       |    SELECT cluster_id, sum(ns) AS n, sum(ns*ns) AS ss FROM (
       |      SELECT cluster_id, naive_split, count(*) AS ns FROM a GROUP BY 1, 2)
       |    GROUP BY cluster_id)
       |), per AS (
       |  SELECT split, count(DISTINCT cluster_id) AS n_clusters,
       |    CAST(count(*) AS BIGINT) AS n_docs
       |  FROM a GROUP BY split
       |), naive AS (
       |  SELECT naive_split AS split, CAST(count(*) AS BIGINT) AS naive_docs
       |  FROM a GROUP BY naive_split
       |)
       |SELECT coalesce(p.split, nv.split) AS split,
       |  coalesce(p.n_clusters, 0) AS n_clusters,
       |  coalesce(p.n_docs, 0) AS n_docs,
       |  coalesce(nv.naive_docs, 0) AS naive_docs,
       |  lc.leak_pairs_cluster, ln2.leak_pairs_naive
       |FROM per p FULL OUTER JOIN naive nv ON p.split = nv.split, lc, ln2
       |ORDER BY 1""".stripMargin

  /** Concat-and-chunk sequence packing (GPT-style pretraining batch prep):
    * documents are concatenated in doc_id order into one token stream and
    * cut into fixed 512-token context windows; each doc's pack assignment
    * is pure arithmetic over the RUNNING TOTAL of token counts — start
    * offset, first pack id, and how many packs the doc straddles.
    *
    * The running total is [[ScaledRank.withGlobalCumSum]] — a range
    * exchange + per-partition forward pass + O(#partitions) offsets, NOT a
    * single-partition `Window.orderBy` (the corpus-scale bottleneck). */
  def seqPacking(s: SparkSession, dir: String): DataFrame = {
    val budget = 512
    val t = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    val start = col("cumsum") - col("n_tokens")
    ScaledRank.withGlobalCumSum(t, Seq(col("doc_id")), col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        start.as("start_offset"),
        floor(start / budget.toDouble).cast("long").as("pack_id"),
        (floor((col("cumsum") - 1) / budget.toDouble)
          - floor(start / budget.toDouble) + 1).cast("long")
          .as("n_packs_spanned"))
      .orderBy(col("doc_id"))
  }

  /** Per-pack attention boundaries for the packed batches of [[seqPacking]]:
    * for each 512-token context window, the sorted in-pack offsets where a
    * new document STARTS — the reset points an attention mask needs so
    * packed neighbors don't attend across document boundaries. Same
    * range-partitioned running total as seqPacking, then one hash agg per
    * pack with an ordered, canonically-serialized boundary list
    * (array_sort(collect_list) joined to a comma string — order-
    * insensitive to partitioning AND hashable by flat row checkers, so
    * the DuckDB list_sort/array_to_string twin hash-matches). */
  def packBoundaries(s: SparkSession, dir: String): DataFrame = {
    val budget = 512
    val t = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    val start = col("cumsum") - col("n_tokens")
    ScaledRank.withGlobalCumSum(t, Seq(col("doc_id")), col("n_tokens"))
      .select(col("doc_id"),
        floor(start / budget.toDouble).cast("long").as("pack_id"),
        (start % budget).cast("int").as("offset_in_pack"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs_starting"),
        concat_ws(",", array_sort(collect_list(col("offset_in_pack")))
          .cast("array<string>")).as("boundaries"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("pack_id"))
  }

  /** Benchmark-contamination check: for every training document, the
    * fraction of its bigram shingles that also appear in some eval-set
    * document (containment, the asymmetric n-gram-overlap measure used for
    * decontamination). Eval set here = doc_id % 50 == 0 (a stand-in for a
    * held-out benchmark); pairs with containment >= 0.2 are flagged.
    *
    * The eval side is broadcast DELIBERATELY: benchmark suites are small by
    * construction (fixed thousands of docs), so this is the
    * genuinely-small-side case — unlike the O(corpus) signature broadcasts
    * removed in round 2 (VERDICT r1). The train side streams map-side
    * against it: no shuffle of the corpus at all until the per-(train,eval)
    * count, whose key space is bounded by |flagged pairs|. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val ex = TextOps.withShingles(docs(s, dir))
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .persist() // q-cache: feeds train side, eval side, per-doc counts
    val trainEx = ex.filter(col("doc_id") % 50 =!= 0)
    val evalEx = ex.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_id"), col("sh"))
    val trainCounts = trainEx.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"))
    trainEx.join(broadcast(evalEx), "sh")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("inter"))
      .join(trainCounts, "doc_id")
      .withColumn("containment", round(col("inter") / col("n_sh"), 6))
      .filter(col("containment") >= 0.2)
      .select(col("doc_id").as("train_id"), col("eval_id"), col("inter"),
        col("containment"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** Boilerplate detection: per document, the fraction of its (distinct)
    * bigram shingles that are corpus-common — appearing in at least 6 % of
    * all documents (a FRACTIONAL document-frequency threshold, so the
    * definition is scale-invariant: the same shingle population qualifies
    * whether the corpus is 500 docs or 500 M). High-ratio docs are
    * template/boilerplate-heavy and get down-weighted or dropped in
    * pretraining curation.
    *
    * Shape: one shingle explode (persisted, reused by both sides), a
    * by-shingle aggregate to find the common set (the corpus doc count
    * joins in as a broadcast 1-row aggregate — no driver collect), and a
    * shuffle equi-join back on the shingle key. All keys are
    * content-derived (shingle text) so cardinality grows sublinearly with
    * the corpus and no corpus-sized relation is broadcast — the same scale
    * posture as [[TextOps.jaccardPairs]]. */
  def boilerplate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val ex = TextOps.withShingles(d)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .persist() // q-cache
    val common = ex.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= col("n_docs") * 0.06)
      .select(col("sh"))
    val perDoc = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val commonPerDoc = ex.join(common, "sh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_common"))
    perDoc.join(commonPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)) / col("n_sh").cast("double"),
          6).as("boilerplate_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Per-source token-budget sampling: within each source, documents are
    * taken in deterministic content-hash order (md5 of the doc id — stable
    * across runs and engines, unlike rand()) until the source's running
    * token total exceeds a fixed budget. The standard "cap each source's
    * contribution to the training mix" step.
    *
    * The running total is a window sum PARTITIONED BY source — sources
    * shard the corpus, so no single task sees more than one source's docs;
    * at 100 TB a pathologically large source would be the skew concern,
    * handled the same way as any hot key (salt the cumsum per the
    * [[ScaledRank.withGlobalCumSum]] construction, then offset). */
  /** Committed target mixture (per-20 shares) and token budget for
    * [[dataMixture]] — the tuned sampling weights of a Pile/LLaMA-style
    * training mix, interpolated into the oracle SQL verbatim. */
  private val mixShares = Seq( // lang -> share numerator over 20
    "en" -> 8L, "zh" -> 3L, "de" -> 3L, "es" -> 3L, "fr" -> 3L)
  private val mixBudget = 50000L

  /** Token-budget mixture allocation — the data-mixing step that turns
    * tuned language weights into per-source token targets (cf. the
    * published training mixes of The Pile, Gao et al. '20, and LLaMA,
    * Touvron et al. '23, each a table of exactly these weights): target_l
    * = B·w_l as exact integer arithmetic (shares are twentieths of the
    * budget), compared against the available token count to report the
    * oversampling factor (epochs — how many passes the budget forces over
    * that language) and the shortfall a single-epoch (no-repeat) policy
    * would leave. One groupBy over the corpus + a broadcast of the 5-row
    * weight table; every ratio is one IEEE division of exact integers. */
  def dataMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weights = broadcast(mixShares.toDF("lang", "share"))
    docs(s, dir)
      .select(col("lang"), size(split(col("text"), " ")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("available"))
      .join(weights, "lang")
      .withColumn("target_tokens", expr(s"share * $mixBudget div 20"))
      .select(col("lang"), col("share"), col("available"), col("target_tokens"),
        (col("target_tokens").cast("double") / col("available")).as("epochs"),
        greatest(col("target_tokens") - col("available"), lit(0L))
          .as("single_epoch_shortfall"))
      .orderBy(col("lang"))
  }

  private def dataMixtureOracle: String = {
    val vals = mixShares.map { case (l, sh) => s"('$l', $sh)" }.mkString(", ")
    s"""WITH w(lang, share) AS (VALUES $vals),
       |avail AS (
       |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS available
       |  FROM documents GROUP BY lang
       |)
       |SELECT a.lang, CAST(w.share AS BIGINT) AS share, a.available,
       |  CAST(w.share * $mixBudget // 20 AS BIGINT) AS target_tokens,
       |  CAST(w.share * $mixBudget // 20 AS BIGINT)::DOUBLE / a.available AS epochs,
       |  CAST(greatest(w.share * $mixBudget // 20 - a.available, 0) AS BIGINT)
       |    AS single_epoch_shortfall
       |FROM avail a JOIN w USING (lang)
       |ORDER BY lang""".stripMargin
  }

  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000
    val t = docs(s, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).as("n_tokens"),
      md5(concat(lit("graft-budget:"), col("doc_id").cast("string"))).as("h"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("source"), col("cum_tokens"))
  }

  /** Temperature-scaled language sampling (the multilingual-mix rebalance
    * step: sample language l with probability ∝ n_l^0.7, normalized so the
    * largest language keeps everything — up-weights low-resource languages
    * relative to proportional sampling). Selection is DETERMINISTIC: doc
    * kept iff its md5-derived uniform (first 6 hex digits mod 1e6) falls
    * under the language's rate in micro-units — reproducible across runs
    * and engines, unlike rand(). The per-language rates are a 5-row
    * aggregate + unpartitioned window over it (bounded by language
    * cardinality) broadcast back; the keep test is a pure per-row map. */
  def temperatureSample(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val rates = d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rate",
        pow(col("n_docs"), 0.7) / max(pow(col("n_docs"), 0.7)).over(w))
    d.join(broadcast(rates), "lang")
      .withColumn("u",
        conv(substring(md5(concat(lit("graft-temp:"),
          col("doc_id").cast("string"))), 1, 6), 16, 10).cast("long")
          % 1000000)
      .filter(col("u") < round(col("rate") * 1000000).cast("long"))
      .select(col("doc_id"), col("lang"), round(col("rate"), 6).as("rate"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end curation pipeline — the composed DAG a real pretraining
    * ingest runs as ONE job: exact dedup (keep min doc_id per text) →
    * quality gate (≥ 40 tokens) → deterministic train split (md5 bucket)
    * → sequence packing over the survivors. Exists to pin that the
    * operators COMPOSE: one Catalyst plan, dedup's by-text exchange and
    * the packer's range exchange are the only corpus-wide shuffles, and
    * every intermediate stays a DataFrame (nothing materializes between
    * stages). */
  def curationE2e(s: SparkSession, dir: String): DataFrame = {
    val deduped = docs(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("text")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .filter(col("n_tokens") >= 40)
      .withColumn("bucket", substring(
        md5(concat(lit("graft-split:"), col("doc_id").cast("string"))), 1, 2))
      .filter(col("bucket") < "cc")
      .select(col("doc_id"), col("n_tokens"))
    ScaledRank.withGlobalCumSum(deduped, Seq(col("doc_id")), col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        floor((col("cumsum") - col("n_tokens")) / 512.0).cast("long")
          .as("pack_id"))
      .orderBy(col("doc_id"))
  }

  /** Incremental ingest dedup: drop arriving documents whose content
    * already exists in the standing corpus (here: new batch = doc_id % 3
    * == 0, corpus = the rest). The join is LEFT ANTI on xxhash64(text) —
    * the 8-byte shuffle key that makes content anti-joins affordable when
    * documents are megabytes (same collision argument as q_dedup_hashkey,
    * whose oracle also compares by full text). At 100 TB the corpus side
    * is the big one; anti-join shuffles both sides by the hash key, never
    * broadcasts, and AQE can still pick a broadcast when a day's batch is
    * genuinely small. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val fresh = d.filter(col("doc_id") % 3 === 0)
      .withColumn("h", xxhash64(col("text")))
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
      .select(xxhash64(col("text")).as("h")).distinct()
    fresh.join(corpus, Seq("h"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Repeated-n-gram exposure (the exact-substring dedup signal of Lee et
    * al. '22, "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): for every word-8-gram position in every document,
    * ask whether that 8-gram occurs anywhere else in the corpus (including
    * elsewhere in the same document); per document report how much of it
    * is duplicated text. Memorization risk scales with repeated spans, not
    * whole-doc duplicates — this catches shared boilerplate and quotations
    * that document-level MinHash misses.
    *
    * Plan: explode positions → one inverted-index groupBy on the gram →
    * rejoin counts to positions → per-doc agg. Two shuffles keyed by gram
    * text and doc_id, NO pair join anywhere — a gram occurring k times
    * costs k rows, never k², so hub grams are safe at any corpus size
    * (contrast suffix-array builds, which need a global sort; this is the
    * aggregate-only formulation of the same signal). At 100 TB the gram
    * key would be xxhash64(gram) to shrink the shuffle — kept as text here
    * so the DuckDB twin matches byte-for-byte. */
  def ngramRepeats(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    // persisted: feeds the corpus-wide gram counts and the per-doc rejoin
    val grams = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(words) < $n THEN array()
           |ELSE transform(sequence(0, size(words)-$n),
           |              i -> concat_ws(' ', slice(words, i+1, $n))) END"""
          .stripMargin)).as("gram"))
      .persist() // q-cache
    val counts = grams.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
    grams.join(counts, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("cnt") >= 2).cast("long")).as("n_dup_grams"),
        round(sum((col("cnt") >= 2).cast("long")) / count(lit(1)), 6)
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Exact-k deterministic sample per language (k = 10): rank docs within
    * each language by md5 of a salted doc_id — a reproducible shuffle
    * order, unlike rand() — and keep the first 10. Per-group ranking via
    * [[ScaledRank.withGroupedRowNumbers]]: languages are exactly the
    * few-huge-groups shape, and a Window.partitionBy(lang) would funnel
    * each language's whole corpus slice through one task. */
  def perLangSample(s: SparkSession, dir: String): DataFrame = {
    val ranked = ScaledRank.withGroupedRowNumbers(
      docs(s, dir).select(col("doc_id"), col("lang"),
        md5(concat(lit("graft-sample:"), col("doc_id").cast("string")))
          .as("r")),
      groupCols = Seq(col("lang")),
      orderCols = Seq(col("r"), col("doc_id")))
    ranked.filter(col("grn") <= 10)
      .select(col("lang"), col("grn").cast("long").as("pick"), col("doc_id"))
      .orderBy(col("lang"), col("pick"))
  }

  /** CDC MERGE/upsert semantics spelled relationally (FULL OUTER join +
    * coalesce + action tag) — what `MERGE INTO target USING updates` does
    * on a v2 table, expressed so it runs on plain parquet relations: the
    * updates batch is derived deterministically from the corpus (every
    * 10th doc re-versioned, every 50th doc's id shifted into the insert
    * key space — offset by max(doc_id)+1 so shifted ids can never collide
    * with real corpus ids at ANY scale factor, unlike a fixed +100000).
    * One shuffle on doc_id; at 100 TB the corpus side is
    * storage-partitioned by the same key, so the join co-locates. The
    * SAME generated SQL text runs on both engines. */
  private def mergeUpsertSql(table: String): String =
    s"""WITH updates AS (
       |  SELECT doc_id, upper(substring(text, 1, 40)) AS text
       |  FROM $table WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM $table) AS doc_id,
       |    'new doc ' || CAST(doc_id AS STRING) AS text
       |  FROM $table WHERE doc_id % 50 = 0)
       |SELECT coalesce(u.doc_id, c.doc_id) AS doc_id,
       |  coalesce(u.text, c.text) AS text,
       |  CASE WHEN c.doc_id IS NULL THEN 'insert'
       |       WHEN u.doc_id IS NULL THEN 'keep'
       |       ELSE 'update' END AS action
       |FROM $table c FULL JOIN updates u ON c.doc_id = u.doc_id
       |ORDER BY doc_id""".stripMargin

  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir).createOrReplaceTempView("documents_v")
    s.sql(mergeUpsertSql("documents_v"))
  }

  /** Training-data JSONL export shape: one JSON object per row via
    * to_json(struct(...)) — the serialization step before shipping a
    * curated corpus to a tokenizer/trainer. Spark's to_json and DuckDB's
    * to_json(struct_pack(...)) emit byte-identical compact JSON for
    * int/string fields, so the oracle pins the exact wire format. Pure
    * map stage; at scale this is the final write pass, no shuffle. */
  def jsonlExport(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir).createOrReplaceTempView("documents_v")
    s.sql(
      """SELECT doc_id,
        |  to_json(named_struct(
        |    'id', doc_id, 'lang', lang, 'source', source,
        |    'n_chars', n_chars, 'preview', substring(text, 1, 20)))
        |    AS jsonl
        |FROM documents_v ORDER BY doc_id""".stripMargin)
  }

  /** Degree distribution + power-law exponent of the REAL customer–supplier
    * interaction graph (an edge per distinct (custkey, suppkey) that ever
    * traded): per-customer degree, the degree histogram, each degree's
    * share, and the log–log OLS slope (the power-law exponent estimate —
    * how hub-dominated the graph is, which predicts whether degree-keyed
    * joins need skew handling). The orders⋈lineitem join shuffles on
    * orderkey once, the distinct collapses to |edges|, and everything
    * after runs on the degree HISTOGRAM (≤ max-degree rows); the 1-row
    * slope aggregate broadcasts back onto the histogram. */
  def degreeDist(s: SparkSession, dir: String): DataFrame = {
    val deg = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_cust"))
    val fit = hist.agg(
      round(expr("regr_slope(ln(n_cust), ln(degree))"), 6).as("loglog_slope"))
    hist.crossJoin(broadcast(fit))
      .withColumn("share",
        round(col("n_cust") / sum(col("n_cust")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)), 6))
      .select(col("degree"), col("n_cust"), col("share"), col("loglog_slope"))
      .orderBy(col("degree"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_degree_dist" -> (degreeDist _),
    "q_jsonl_export" -> (jsonlExport _),
    "q_merge_upsert" -> (mergeUpsert _),
    "q_incremental_dedup" -> (incrementalDedup _),
    "q_ngram_repeats" -> (ngramRepeats _),
    "q_per_lang_sample" -> (perLangSample _),
    "q_curation_e2e" -> (curationE2e _),
    "q_temperature_sample" -> (temperatureSample _),
    "q_dup_clusters" -> (dupClusters _),
    "q_pagerank" -> (pageRank _),
    "q_ppr" -> (personalizedPageRank _),
    "q_triangle_count" -> (triangleCount _),
    "q_clustering_coeff" -> (clusteringCoeff _),
    "q_path_counts" -> ((ss, dd) => pathCounts(ss, dd)),
    "q_graph_bfs" -> ((s, d) => graphBfs(s, d)),
    "q_sssp" -> ((s, d) => sssp(s, d)),
    "q_assortativity" -> (assortativity _),
    "q_harmonic" -> ((s, d) => harmonicLandmarks(s, d)),
    "q_adamic_adar" -> (adamicAdar _),
    "q_kcore" -> (kCore _),
    "q_label_prop" -> (labelPropagation _),
    "q_modularity" -> (modularity _),
    "q_louvain_move" -> (louvainMove _),
    "q_hits" -> (hits _),
    "q_filter_attribution" -> (filterAttribution _),
    "q_hybrid_dedup" -> (hybridDedup _),
    "q_weighted_sample" -> (weightedSample _),
    "q_cluster_best" -> (clusterBest _),
    "q_hash_split" -> (hashSplit _),
    "q_seq_packing" -> (seqPacking _),
    "q_pack_boundaries" -> (packBoundaries _),
    "q_contamination" -> (contamination _),
    "q_boilerplate" -> (boilerplate _),
    "q_token_budget" -> (tokenBudget _),
    "q_data_mixture" -> (dataMixture _),
    "q_cluster_split" -> (clusterSplit _),
  )

  // The shingle CTE chain below q_dup_clusters / q_contamination is the
  // same construction as TextOps' q_jaccard_pairs oracle (bigram shingles
  // via list_transform, distinct). Shared through `cl` (doc_id,
  // cluster_id) by q_dup_clusters and q_cluster_best.
  private val dupClustersCte: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(range(1, len(string_split(text, ' '))),
      |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS shingles
      |  FROM documents
      |), ex AS (
      |  SELECT doc_id, lang, source, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh
      |), pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.n_sh AS n1, b.n_sh AS n2,
      |         count(*) AS inter
      |  FROM ex a JOIN ex b
      |    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh
      |   AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4
      |), edges AS (
      |  SELECT id1, id2 FROM pairs
      |  WHERE round(inter * 1.0 / (n1 + n2 - inter), 6) >= 0.25
      |  UNION ALL
      |  SELECT id2, id1 FROM pairs
      |  WHERE round(inter * 1.0 / (n1 + n2 - inter), 6) >= 0.25
      |), reach(id, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.id, e.id2 FROM reach r JOIN edges e ON r.lab = e.id1
      |), cl AS (
      |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_degree_dist" ->
      """WITH deg AS (
        |  SELECT o_custkey, count(*) AS degree FROM (
        |    SELECT DISTINCT o_custkey, l_suppkey
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |  GROUP BY o_custkey),
        |hist AS (SELECT degree, count(*) AS n_cust FROM deg GROUP BY degree)
        |SELECT degree, n_cust,
        |  round(CAST(n_cust AS DOUBLE) / sum(n_cust) OVER (), 6) AS share,
        |  (SELECT round(regr_slope(ln(n_cust), ln(degree)), 6) FROM hist)
        |    AS loglog_slope
        |FROM hist ORDER BY degree""".stripMargin,
    "q_jsonl_export" ->
      """SELECT doc_id,
        |  CAST(to_json(struct_pack(
        |    id := doc_id, lang := lang, source := source,
        |    n_chars := n_chars, preview := substring(text, 1, 20)))
        |    AS VARCHAR) AS jsonl
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_merge_upsert" -> mergeUpsertSql("documents"),
    "q_data_mixture" -> dataMixtureOracle,
    "q_cluster_split" -> clusterSplitOracle,
    "q_pagerank" -> pageRankOracleSql("documents"),
    "q_ppr" -> personalizedPageRankOracleSql("documents"),
    "q_kcore" -> kCoreOracleSql("documents"),
    "q_label_prop" -> labelPropagationOracleSql("documents"),
    "q_modularity" -> modularityOracleSql("documents"),
    "q_louvain_move" -> louvainMoveOracleSql("documents"),
    "q_hits" -> hitsOracleSql("documents"),

    // plain a<b<c triple join — degree-ordered orientation in the Spark
    // plan provably enumerates the same triangle set
    "q_triangle_count" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS u, (doc_id + 1) % (SELECT n FROM nn) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 31 + 7) % (SELECT n FROM nn) FROM documents),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        |      FROM raw WHERE u <> v),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT node, tri_cnt FROM (
        |  SELECT node, count(*) AS tri_cnt FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY node)
        |ORDER BY tri_cnt DESC, node LIMIT 20""".stripMargin,
    // Brandes forward pass re-derived with six unrolled layers: each
    // layer sums previous-layer sigmas into unsettled nodes only
    "q_path_counts" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS u, (doc_id + 1) % (SELECT n FROM nn) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 31 + 7) % (SELECT n FROM nn) FROM documents),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        |      FROM raw WHERE u <> v),
        |adj AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |lms AS (SELECT doc_id AS landmark FROM documents WHERE doc_id % 97 = 0),
        |l0 AS (SELECT landmark, landmark AS node, 0 AS dist,
        |       CAST(1 AS BIGINT) AS sigma FROM lms),
        |s0 AS (SELECT * FROM l0),
        |l1 AS (
        |  SELECT l.landmark, a.v AS node, 1 AS dist,
        |    CAST(sum(l.sigma) AS BIGINT) AS sigma
        |  FROM l0 l JOIN adj a ON a.u = l.node
        |  WHERE NOT EXISTS (SELECT 1 FROM s0 s
        |    WHERE s.landmark = l.landmark AND s.node = a.v)
        |  GROUP BY l.landmark, a.v),
        |s1 AS (SELECT * FROM s0 UNION ALL SELECT * FROM l1),
        |l2 AS (
        |  SELECT l.landmark, a.v AS node, 2 AS dist,
        |    CAST(sum(l.sigma) AS BIGINT) AS sigma
        |  FROM l1 l JOIN adj a ON a.u = l.node
        |  WHERE NOT EXISTS (SELECT 1 FROM s1 s
        |    WHERE s.landmark = l.landmark AND s.node = a.v)
        |  GROUP BY l.landmark, a.v),
        |s2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM l2),
        |l3 AS (
        |  SELECT l.landmark, a.v AS node, 3 AS dist,
        |    CAST(sum(l.sigma) AS BIGINT) AS sigma
        |  FROM l2 l JOIN adj a ON a.u = l.node
        |  WHERE NOT EXISTS (SELECT 1 FROM s2 s
        |    WHERE s.landmark = l.landmark AND s.node = a.v)
        |  GROUP BY l.landmark, a.v),
        |s3 AS (SELECT * FROM s2 UNION ALL SELECT * FROM l3),
        |l4 AS (
        |  SELECT l.landmark, a.v AS node, 4 AS dist,
        |    CAST(sum(l.sigma) AS BIGINT) AS sigma
        |  FROM l3 l JOIN adj a ON a.u = l.node
        |  WHERE NOT EXISTS (SELECT 1 FROM s3 s
        |    WHERE s.landmark = l.landmark AND s.node = a.v)
        |  GROUP BY l.landmark, a.v),
        |s4 AS (SELECT * FROM s3 UNION ALL SELECT * FROM l4),
        |l5 AS (
        |  SELECT l.landmark, a.v AS node, 5 AS dist,
        |    CAST(sum(l.sigma) AS BIGINT) AS sigma
        |  FROM l4 l JOIN adj a ON a.u = l.node
        |  WHERE NOT EXISTS (SELECT 1 FROM s4 s
        |    WHERE s.landmark = l.landmark AND s.node = a.v)
        |  GROUP BY l.landmark, a.v),
        |s5 AS (SELECT * FROM s4 UNION ALL SELECT * FROM l5),
        |l6 AS (
        |  SELECT l.landmark, a.v AS node, 6 AS dist,
        |    CAST(sum(l.sigma) AS BIGINT) AS sigma
        |  FROM l5 l JOIN adj a ON a.u = l.node
        |  WHERE NOT EXISTS (SELECT 1 FROM s5 s
        |    WHERE s.landmark = l.landmark AND s.node = a.v)
        |  GROUP BY l.landmark, a.v),
        |s6 AS (SELECT * FROM s5 UNION ALL SELECT * FROM l6)
        |SELECT landmark, node, CAST(dist AS BIGINT) AS dist, sigma
        |FROM s6 ORDER BY landmark, node""".stripMargin,
    // same graph + triangle census, per-node: coeff = 2T / (d(d-1)) as
    // one IEEE division of exact integers
    "q_clustering_coeff" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS u, (doc_id + 1) % (SELECT n FROM nn) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 31 + 7) % (SELECT n FROM nn) FROM documents),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        |      FROM raw WHERE u <> v),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (SELECT node, count(*) AS t FROM (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) GROUP BY node)
        |SELECT d.node, d.deg,
        |  CAST(coalesce(tn.t, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN d.deg >= 2
        |    THEN round(CAST(2 * coalesce(tn.t, 0) AS DOUBLE)
        |      / (d.deg * (d.deg - 1)), 6)
        |    ELSE CAST(0 AS DOUBLE) END AS coeff
        |FROM deg d LEFT JOIN tn ON tn.node = d.node
        |ORDER BY d.node""".stripMargin,
    "q_filter_attribution" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS tokens
        |  FROM documents),
        |f AS (
        |  SELECT
        |    len(tokens) < 20 AS f_short,
        |    len(list_filter(tokens,
        |      x -> x IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
        |      / len(tokens) < 0.02 AS f_stop,
        |    (n_chars - (len(tokens) - 1)) * 1.0 / len(tokens) > 4.8
        |      AS f_words,
        |    len(list_distinct(tokens)) * 1.0 / len(tokens) < 0.32 AS f_ttr
        |  FROM t),
        |g AS (SELECT *, CAST(f_short AS INT) + CAST(f_stop AS INT)
        |        + CAST(f_words AS INT) + CAST(f_ttr AS INT) AS nf FROM f),
        |a AS (SELECT count(*) AS total,
        |    sum(CASE WHEN f_short THEN 1 ELSE 0 END) AS c_short,
        |    sum(CASE WHEN f_short AND nf = 1 THEN 1 ELSE 0 END) AS s_short,
        |    sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS c_stop,
        |    sum(CASE WHEN f_stop AND nf = 1 THEN 1 ELSE 0 END) AS s_stop,
        |    sum(CASE WHEN f_words THEN 1 ELSE 0 END) AS c_words,
        |    sum(CASE WHEN f_words AND nf = 1 THEN 1 ELSE 0 END) AS s_words,
        |    sum(CASE WHEN f_ttr THEN 1 ELSE 0 END) AS c_ttr,
        |    sum(CASE WHEN f_ttr AND nf = 1 THEN 1 ELSE 0 END) AS s_ttr,
        |    sum(CASE WHEN nf > 0 THEN 1 ELSE 0 END) AS c_any,
        |    sum(CASE WHEN nf = 1 THEN 1 ELSE 0 END) AS s_any
        |  FROM g)
        |SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
        |  CAST(n_sole AS BIGINT) AS n_sole, fail_rate FROM (
        |  SELECT 'any_rule' AS rule, c_any AS n_fail, s_any AS n_sole,
        |    round(c_any * 1.0 / total, 6) AS fail_rate FROM a
        |  UNION ALL SELECT 'long_words', c_words, s_words,
        |    round(c_words * 1.0 / total, 6) FROM a
        |  UNION ALL SELECT 'low_stopword', c_stop, s_stop,
        |    round(c_stop * 1.0 / total, 6) FROM a
        |  UNION ALL SELECT 'low_ttr', c_ttr, s_ttr,
        |    round(c_ttr * 1.0 / total, 6) FROM a
        |  UNION ALL SELECT 'short', c_short, s_short,
        |    round(c_short * 1.0 / total, 6) FROM a)
        |ORDER BY rule""".stripMargin,

    "q_adamic_adar" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS u, (doc_id + 1) % (SELECT n FROM nn) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 31 + 7) % (SELECT n FROM nn) FROM documents),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        |      FROM raw WHERE u <> v),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT u AS z, count(*) AS deg FROM sym GROUP BY u),
        |wedge AS (
        |  SELECT a.v AS z, a.u AS x, b.v AS y
        |  FROM sym a JOIN sym b ON a.v = b.u
        |  WHERE a.u < b.v),
        |nonadj AS (
        |  SELECT w.x, w.y, w.z FROM wedge w
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e WHERE e.u = w.x AND e.v = w.y))
        |SELECT x, y,
        |  round(sum(1.0 / ln(CAST(deg AS DOUBLE))), 9) AS aa_score,
        |  count(*) AS common_neighbors
        |FROM nonadj JOIN deg ON nonadj.z = deg.z
        |GROUP BY x, y
        |ORDER BY aa_score DESC, x, y LIMIT 20""".stripMargin,

    "q_hybrid_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS shingles
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, lang, source, len(shingles) AS n_sh,
        |         unnest(shingles) AS sh FROM sh
        |), pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.n_sh AS n1, b.n_sh AS n2,
        |         count(*) AS inter
        |  FROM ex a JOIN ex b
        |    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), jp AS (
        |  SELECT id1, id2,
        |         round(inter * 1.0 / (n1 + n2 - inter), 6) AS jaccard
        |  FROM pairs WHERE round(inter * 1.0 / (n1 + n2 - inter), 6) >= 0.25
        |), e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[]))) AS norm
        |  FROM embeddings)
        |SELECT id1, id2, jaccard,
        |  round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cosine,
        |  round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) >= 0.30
        |    AS confirmed
        |FROM jp JOIN e a ON jp.id1 = a.vec_id JOIN e b ON jp.id2 = b.vec_id
        |ORDER BY id1, id2""".stripMargin,

    "q_assortativity" ->
      """WITH nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS u, doc_id // 2 AS v
        |  FROM documents WHERE doc_id > 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id * doc_id + 1) % (SELECT n FROM nn)
        |  FROM documents),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        |      FROM raw WHERE u <> v),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY u),
        |ed AS (
        |  SELECT CAST(du.deg AS DOUBLE) AS x, CAST(dv.deg AS DOUBLE) AS y
        |  FROM sym JOIN deg du ON sym.u = du.node
        |           JOIN deg dv ON sym.v = dv.node),
        |m AS (
        |  SELECT count(*) AS n_edges, avg(x) AS mx, avg(y) AS my,
        |    avg(x * x) AS mxx, avg(y * y) AS myy, avg(x * y) AS mxy
        |  FROM ed)
        |SELECT n_edges, round(mx, 6) AS mean_deg,
        |  round((mxy - mx * my)
        |    / (sqrt(mxx - mx * mx) * sqrt(myy - my * my)), 6)
        |    AS assortativity
        |FROM m""".stripMargin,

    "q_sssp" ->
      s"""WITH RECURSIVE nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS u, (doc_id + 1) % (SELECT n FROM nn) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 31 + 7) % (SELECT n FROM nn) FROM documents),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        |      FROM raw WHERE u <> v),
        |we AS (SELECT u, v, 1 + (u * 7 + v * 13) % 5 AS w FROM e),
        |ed AS (SELECT u, v, w FROM we UNION ALL SELECT v, u, w FROM we),
        |r(node, dist) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
        |  UNION
        |  SELECT ed.v, r.dist + ed.w FROM r JOIN ed ON ed.u = r.node
        |  WHERE r.dist + ed.w <= $SsspCostCap)
        |SELECT node, min(dist) AS dist
        |FROM r GROUP BY node ORDER BY node""".stripMargin,

    // same derived graph as q_graph_bfs; multi-source bounded BFS with the
    // landmark id carried in the recursion key; 2520 div d clears every
    // 1/d denominator for d ≤ 6, so the centrality is an exact integer
    "q_harmonic" ->
      """WITH RECURSIVE nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS u, (doc_id + 1) % (SELECT n FROM nn) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 31 + 7) % (SELECT n FROM nn) FROM documents),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        |      FROM raw WHERE u <> v),
        |ed AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |lm AS (SELECT doc_id AS src FROM documents WHERE doc_id % 97 = 0),
        |r(src, node, d) AS (
        |  SELECT src, src AS node, 0 FROM lm
        |  UNION
        |  SELECT r.src, ed.v, r.d + 1 FROM r JOIN ed ON ed.u = r.node
        |  WHERE r.d < 6),
        |best AS (SELECT src, node, min(d) AS d FROM r GROUP BY src, node)
        |SELECT src, CAST(count(*) - 1 AS BIGINT) AS n_reached,
        |       CAST(sum(CASE WHEN d > 0 THEN 2520 // d ELSE 0 END) AS BIGINT)
        |         AS harmonic_x2520
        |FROM best GROUP BY src ORDER BY src""".stripMargin,

    "q_graph_bfs" ->
      """WITH RECURSIVE nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS u, (doc_id + 1) % (SELECT n FROM nn) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 31 + 7) % (SELECT n FROM nn) FROM documents),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        |      FROM raw WHERE u <> v),
        |ed AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |r(node, d) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS d
        |  UNION
        |  SELECT ed.v, r.d + 1 FROM r JOIN ed ON ed.u = r.node
        |  WHERE r.d < 30)
        |SELECT node, CAST(min(d) AS INTEGER) AS hops
        |FROM r GROUP BY node ORDER BY node""".stripMargin,

    "q_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, n_chars,
        |    -ln((CAST((doc_id * 2654435761) % 1000003 AS DOUBLE) + 0.5)
        |        / 1000003.0) / n_chars AS skey
        |  FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) AS pick,
        |  doc_id, n_chars
        |FROM keyed ORDER BY skey, doc_id LIMIT 50""".stripMargin,
    // hash is only the shuffle key — the relation equals text-equality
    // anti-join absent 64-bit collisions, so the oracle compares by text
    "q_incremental_dedup" ->
      """SELECT d.doc_id, d.lang, d.source
        |FROM documents d
        |WHERE d.doc_id % 3 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents o
        |  WHERE o.doc_id % 3 <> 0 AND o.text = d.text)
        |ORDER BY d.doc_id""".stripMargin,

    "q_ngram_repeats" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(words)-6),
        |                        i -> array_to_string(words[i:i+7], ' '))) AS gram
        |  FROM w
        |), c AS (
        |  SELECT gram, count(*) AS cnt FROM g GROUP BY gram
        |)
        |SELECT g.doc_id, count(*) AS n_grams,
        |       CAST(sum((c.cnt >= 2)::INT) AS BIGINT) AS n_dup_grams,
        |       round(CAST(sum((c.cnt >= 2)::INT) AS DOUBLE)/count(*), 6) AS dup_frac
        |FROM g JOIN c USING (gram)
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin,

    "q_per_lang_sample" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft-sample:' || CAST(doc_id AS VARCHAR)),
        |               doc_id) AS pick
        |  FROM documents)
        |SELECT lang, pick, doc_id FROM r WHERE pick <= 10
        |ORDER BY lang, pick""".stripMargin,

    "q_curation_e2e" ->
      """WITH dd AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |tk AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |  FROM dd WHERE len(string_split(text, ' ')) >= 40),
        |tr AS (
        |  SELECT doc_id, n_tokens FROM tk
        |  WHERE substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tr)
        |SELECT doc_id, n_tokens,
        |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_temperature_sample" ->
      """WITH n AS (
        |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |r AS (
        |  SELECT lang,
        |    pow(n_docs, 0.7) / max(pow(n_docs, 0.7)) OVER () AS rate
        |  FROM n)
        |SELECT d.doc_id, d.lang, round(r.rate, 6) AS rate
        |FROM documents d JOIN r USING (lang)
        |WHERE (CAST(('0x' || substring(md5('graft-temp:' || CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 1000000)
        |      < CAST(round(r.rate * 1000000, 0) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin,

    "q_dup_clusters" ->
      s"""$dupClustersCte
        |SELECT doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
        |  doc_id = cluster_id AS is_canonical
        |FROM cl ORDER BY doc_id""".stripMargin,

    // same recursive cluster CTE, canonical = LONGEST member not min-id
    "q_cluster_best" ->
      s"""$dupClustersCte,
        |q AS (
        |  SELECT cl.doc_id, cl.cluster_id,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY len(string_split(d.text, ' ')) DESC, cl.doc_id) AS rk,
        |    CAST(count(*) OVER (PARTITION BY cl.cluster_id) AS BIGINT)
        |      AS cluster_size
        |  FROM cl JOIN documents d USING (doc_id))
        |SELECT cluster_id, doc_id AS best_doc, n_tokens, cluster_size
        |FROM q WHERE rk = 1 ORDER BY cluster_id""".stripMargin,

    "q_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN bucket < 'cc' THEN 'train'
        |       WHEN bucket < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    "q_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  CAST(cum - n_tokens AS BIGINT) AS start_offset,
        |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
        |  CAST(floor((cum - 1) / 512.0) - floor((cum - n_tokens) / 512.0) + 1
        |       AS BIGINT) AS n_packs_spanned
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_pack_boundaries" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
        |    CAST((cum - n_tokens) % 512 AS INTEGER) AS offset_in_pack
        |  FROM c)
        |SELECT pack_id, count(*) AS n_docs_starting,
        |  array_to_string(list_sort(list(offset_in_pack)), ',') AS boundaries,
        |  min(doc_id) AS first_doc
        |FROM s GROUP BY pack_id ORDER BY pack_id""".stripMargin,

    "q_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS shingles
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh
        |), tr AS (SELECT * FROM ex WHERE doc_id % 50 <> 0),
        |ev AS (SELECT doc_id AS eval_id, sh FROM ex WHERE doc_id % 50 = 0),
        |j AS (
        |  SELECT tr.doc_id, ev.eval_id, count(*) AS inter
        |  FROM tr JOIN ev ON tr.sh = ev.sh GROUP BY 1, 2
        |), c AS (SELECT DISTINCT doc_id, n_sh FROM tr)
        |SELECT j.doc_id AS train_id, eval_id, CAST(inter AS BIGINT) AS inter,
        |  round(inter * 1.0 / n_sh, 6) AS containment
        |FROM j JOIN c ON j.doc_id = c.doc_id
        |WHERE round(inter * 1.0 / n_sh, 6) >= 0.2
        |ORDER BY train_id, eval_id""".stripMargin,

    "q_boilerplate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS shingles
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS sh FROM sh
        |), common AS (
        |  SELECT sh FROM ex GROUP BY sh
        |  HAVING count(DISTINCT doc_id) >=
        |         (SELECT count(*) FROM documents) * 0.06
        |), per_doc AS (
        |  SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
        |), cpd AS (
        |  SELECT ex.doc_id, count(*) AS n_common
        |  FROM ex JOIN common ON ex.sh = common.sh GROUP BY ex.doc_id
        |)
        |SELECT p.doc_id, CAST(p.n_sh AS BIGINT) AS n_sh,
        |  CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
        |  round(COALESCE(c.n_common, 0) * 1.0 / p.n_sh, 6) AS boilerplate_ratio
        |FROM per_doc p LEFT JOIN cpd c ON p.doc_id = c.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    "q_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    md5('graft-budget:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT source, doc_id, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 1000
        |ORDER BY source, cum_tokens""".stripMargin,
  )
}
