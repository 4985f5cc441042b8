package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Curation, ScaledRank}

/** Curation-operator behavior on crafted inputs: connected components on a
  * graph whose diameter forces several propagation rounds, the two-phase
  * global cumsum against the single-partition window it replaces, packing
  * arithmetic invariants, and hash-split determinism + proportions.
  */
class CurationSpec extends SparkSpec {

  import spark.implicits._

  test("connectedComponents: chain, pair, singleton, reversed/dup edges") {
    // chain 0-1-…-12 (diameter 12 ⇒ >1 propagation round), pair {20,21}
    // given REVERSED (21→20) and duplicated, singletons 30 and 31
    val ids = (0L to 12L) ++ Seq(20L, 21L, 30L, 31L)
    val chain = (0L until 12L).map(i => (i, i + 1))
    val edges = chain ++ Seq((21L, 20L), (21L, 20L))
    val got = Curation.connectedComponents(
        ids.toDF("id"), edges.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 12L).foreach(i => assert(got(i) === 0L, s"chain node $i"))
    assert(got(20L) === 20L && got(21L) === 20L)
    assert(got(30L) === 30L && got(31L) === 31L)
  }

  test("connectedComponents throws on non-convergence instead of returning partial labels") {
    // chain of diameter 12 cannot converge in 1 round (even with pointer
    // jumping a round only quarters the diameter); the cap must FAIL LOUDLY,
    // not hand back labels that split one component into several
    val ids = (0L to 12L)
    val edges = (0L until 12L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      Curation.connectedComponents(
        ids.toDF("id"), edges.toDF("id1", "id2"), maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
    // and with the default cap the same graph converges fine
    val got = Curation.connectedComponents(ids.toDF("id"), edges.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach(i => assert(got(i) === 0L))
  }

  test("connectedComponents matches brute-force transitive closure") {
    // deterministic pseudo-random sparse graph over 60 nodes
    val n = 60L
    val ids = (0L until n)
    val edges = ids.filter(i => (i * 7919) % 3 == 0)
      .map(i => (i, (i * 31 + 7) % n)).filter { case (a, b) => a != b }
    // driver-side union-find as the oracle
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = ids.map(i => i -> find(i)).toMap
    val got = Curation.connectedComponents(ids.toDF("id"), edges.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("pageRank conserves probability mass on the 2-regular link graph") {
    // out-degree is exactly 2 for every node (no dangling mass), so each
    // damped iteration maps total mass 1 -> 0.15 + 0.85*1 = 1; the final
    // ranks must still be a distribution
    val rows = Curation.pageRank(spark, sf001).collect()
    assert(rows.length === 500)
    val scores = rows.map(_.getDouble(1))
    assert(math.abs(scores.sum - 1.0) < 1e-6, s"total mass = ${scores.sum}")
    assert(scores.forall(_ > 0.0))
    // damping floor: nothing can fall below 0.15/N
    assert(scores.forall(_ >= 0.15 / 500 - 1e-12))
  }

  test("weightedSample matches an independent JVM A-Res computation; top-k plan") {
    val df = Curation.weightedSample(spark, sf001)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val base = Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getAs[Number]("n_chars").longValue))
    val want = base.map { case (id, w) =>
      val u = (((id * 2654435761L) % 1000003L).toDouble + 0.5) / 1000003.0
      (id, -math.log(u) / w)
    }.sortBy { case (id, key) => (key, id) }.take(50).zipWithIndex
      .map { case ((id, _), i) => ((i + 1).toLong, id) }.toList
    assert(got === want)
    // global top-k must plan as TakeOrderedAndProject, not a full sort
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("withGlobalCumSum equals single-partition window running sum") {
    val df = spark.range(2000)
      .select(col("id"), ((col("id") * 37) % 101 + 1).as("v"))
    val got = ScaledRank.withGlobalCumSum(df, Seq(col("id")), col("v"))
      .select(col("id"), col("cumsum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cs", sum(col("v")).over(w))
      .select(col("id"), col("cs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 2000)
    assert(got === want)
  }

  test("withGlobalCumSum handles SIGNED values (non-monotonic running sum)") {
    // sweep-line regression: ±1 deltas make the local prefix sum
    // non-monotonic, so partition offsets must be the partition TOTAL
    // (sum of values), not max(local prefix) — max overstated every
    // downstream partition's offset
    val df = spark.range(2000)
      .select(col("id"),
        when(col("id") % 2 === 0, 1).otherwise(-1).as("v"))
    val got = ScaledRank.withGlobalCumSum(df, Seq(col("id")), col("v"))
      .select(col("id"), col("cumsum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cs", sum(col("v")).over(w))
      .select(col("id"), col("cs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("seqPacking: offsets are a packing of the concatenated token stream") {
    val rows = Curation.seqPacking(spark, sf001).collect()
    assert(rows.nonEmpty)
    var expectedStart = 0L
    rows.foreach { r =>
      val nTok = r.getInt(1).toLong
      val start = r.getLong(2); val packId = r.getLong(3); val spans = r.getLong(4)
      assert(start === expectedStart, s"doc ${r.getLong(0)}: gap/overlap in stream")
      assert(packId === start / 512)
      assert(spans === (start + nTok - 1) / 512 - packId + 1)
      expectedStart = start + nTok
    }
  }

  test("hashSplit is deterministic with ~80/10/10 proportions") {
    val a = Curation.hashSplit(spark, sf001).collect()
    val b = Curation.hashSplit(spark, sf001).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    val frac = a.groupBy(_.getString(2)).map { case (k, v) => k -> v.length.toDouble / a.length }
    assert(math.abs(frac("train") - 0.80) < 0.08, s"train ${frac("train")}")
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.10) < 0.06)
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.10) < 0.06)
  }

  test("ngramRepeats reproduces independent DuckDB totals and known dup docs") {
    // literals from an offline DuckDB run of the twin SQL over sf0.001
    val rows = Curation.ngramRepeats(spark, sf001).collect()
    assert(rows.length == 500)
    assert(rows.map(_.getLong(1)).sum == 24439L) // total 8-gram positions
    assert(rows.map(_.getLong(2)).sum == 2382L)  // duplicated positions
    val byDoc = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byDoc(474L) == ((89L, 88L))) // near-dup pair member: ~all spans shared
    assert(byDoc(498L) == ((88L, 88L)))
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(math.abs(r.getDouble(3) - r.getLong(2).toDouble / r.getLong(1)) < 1e-6)
    }
    spark.catalog.clearCache()
  }

  test("ngramRepeats edge semantics: short docs absent, empty tokens counted, exact dups fully flagged") {
    val dir = java.nio.file.Files.createTempDirectory("ngram_edge").toString
    Seq(
      (1L, "a b c d e f g"),           // 7 words -> no 8-gram, absent
      (2L, "a b c d e f g h"),         // exactly one gram, unique
      (3L, "x x x x x x x x x x"),     // 3 identical grams...
      (4L, "x x x x x x x x x x"),     // ...duplicated across docs -> frac 1.0
      (5L, "a  b c d e f g")           // double space -> empty token counts as a word
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = Curation.ngramRepeats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set(2L, 3L, 4L, 5L)) // doc 1 has no gram on EITHER engine
    assert(rows(2L) == ((1L, 0L, 0.0)))
    assert(rows(3L) == ((3L, 3L, 1.0))) // within+across-doc repeats all count
    assert(rows(4L) == ((3L, 3L, 1.0)))
    assert(rows(5L) == ((1L, 0L, 0.0))) // 8 tokens incl. the empty one
    spark.catalog.clearCache()
  }

  test("contamination containment bounded by (0, 1] and eval set disjoint") {
    val rows = Curation.contamination(spark, sf001).collect()
    rows.foreach { r =>
      assert(r.getLong(0) % 50 != 0, "train side leaked an eval doc")
      assert(r.getLong(1) % 50 == 0, "eval side contains a non-eval doc")
      val c = r.getDouble(3)
      assert(c > 0.0 && c <= 1.0)
    }
  }

  test("kCoreOf: clique survives, pendant chain peels, cascade removes all") {
    // K4 on {0,1,2,3} (every node deg 3 → the whole clique IS the 3-core)
    // with a pendant chain 3-10-11 (deg <= 2 → peeled), plus a separate
    // cycle 20-21-22-20 (deg 2 everywhere → fully peeled at k=3: removing
    // any node cascades the rest — multi-round peel on crafted input)
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val edges = k4 ++ Seq((3L, 10L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
    val got = Curation.kCoreOf(edges.toDF("u", "v"), k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("kCoreOf throws loudly at the round cap instead of returning a superset") {
    // chain of 12 at k=2 peels one leaf layer per round from each end —
    // needs ~6 rounds; cap at 2 must throw, not return partial
    val edges = (0L until 12L).map(i => (i, i + 1))
    assertThrows[IllegalStateException] {
      Curation.kCoreOf(edges.toDF("u", "v"), k = 2, maxRounds = 2).collect()
    }
  }

  test("labelPropOf: barbell graph converges to one community per clique") {
    // two triangles {0,1,2} and {10,11,12} bridged by 2-10; hand-simulated
    // 4 deterministic synchronous rounds (max-count, min-label) end with
    // the cliques in two distinct communities: {0,1,2}->0 and (via the
    // bridge's round-1 label) {10,11,12}->2
    val nodes = Seq(0L, 1L, 2L, 10L, 11L, 12L).toDF("node")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L), (2L, 10L)).toDF("u", "v")
    val got = Curation.labelPropOf(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 2L, 11L -> 2L, 12L -> 2L))
  }

  test("hitsOf: star graph puts all authority on the center, all hub on spokes") {
    // 4 spokes pointing at node 0; exact integer rounds:
    // a1(0)=4 -> h1(spoke)=4 -> a2(0)=16 -> h2(spoke)=16 -> a3(0)=64,
    // h3(spoke)=64; the center has no out-edges so hub(0)=0, and spokes
    // receive nothing so authority(spoke)=0
    val nodes = Seq(0L, 1L, 2L, 3L, 4L).toDF("node")
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("u", "v")
    val got = Curation.hitsOf(nodes, edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L) === ((64L, 0L)))
    Seq(1L, 2L, 3L, 4L).foreach(s => assert(got(s) === ((0L, 64L))))
  }

  test("modularity: exact-integer invariants and fixture literals") {
    val rows = Curation.modularity(spark, sf001).collect()
    assert(rows.length === 66) // independent DuckDB literal over sf0.001
    val m = rows.head.getLong(5)
    assert(m === 992L)
    // every community row: q_num ≡ 4·m·e_c − d_c² exactly
    rows.foreach { r =>
      assert(r.getLong(4) === 4L * m * r.getLong(2) - r.getLong(3) * r.getLong(3))
    }
    // handshake identity: Σ d_c = 2m; partition identity: Σ size = |V|
    assert(rows.map(_.getLong(3)).sum === 2L * m)
    assert(rows.map(_.getLong(1)).sum === 500L)
    // independent DuckDB pins for the global numerator and intra edges
    assert(rows.map(_.getLong(4)).sum === -93188L)
    assert(rows.map(_.getLong(2)).sum === 33L)
  }

  test("louvainMove: moves are exactly the strictly-positive-gain argmaxes") {
    val rows = Curation.louvainMove(spark, sf001).collect()
    assert(rows.length === 500)
    // a node moves iff its best scaled gain is strictly positive
    rows.foreach { r =>
      val moved = r.getLong(1) != r.getLong(2)
      assert(r.getLong(3) >= 0L)
      assert(moved === (r.getLong(3) > 0L), s"node ${r.getLong(0)}")
    }
    // independent DuckDB literals over sf0.001
    assert(rows.count(r => r.getLong(1) != r.getLong(2)) === 489)
    assert(rows.map(_.getLong(3)).max === 30104L)
  }

  test("labelPropagation on the fixture: 500 rows, several communities, deterministic") {
    val a = Curation.labelPropagation(spark, sf001).collect()
    assert(a.length === 500)
    val comms = a.map(_.getLong(1)).distinct
    assert(comms.length > 1 && comms.length < 500)
    val b = Curation.labelPropagation(spark, sf001).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("kCore: every survivor has core_deg >= 3 and survivors are a real subset") {
    val rows = Curation.kCore(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 3L, s"node ${r.getLong(0)}"))
    // fixture contract from the derivation (tree + quadratic hash, n=500):
    // 230 of 500 nodes survive the k=3 peel
    assert(rows.length === 230)
  }

  test("assortativity matches an exact JVM recompute of the same graph") {
    val r = Curation.assortativity(spark, sf001).collect().head
    val n = graft.Tables(spark, sf001, "documents").count().toInt
    // rebuild the tree + quadratic-hash graph in plain Scala
    val raw = (1 until n).map(i => (i.toLong, (i / 2).toLong)) ++
      (0 until n).map(i => (i.toLong, ((i.toLong * i + 1) % n)))
    val und = raw.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val sym = und ++ und.map { case (u, v) => (v, u) }
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val xs = sym.map { case (u, _) => deg(u) }
    val ys = sym.map { case (_, v) => deg(v) }
    def mean(a: Seq[Double]) = a.sum / a.length
    val (mx, my) = (mean(xs), mean(ys))
    val cov = mean(xs.zip(ys).map { case (x, y) => x * y }) - mx * my
    val sx = math.sqrt(mean(xs.map(x => x * x)) - mx * mx)
    val sy = math.sqrt(mean(ys.map(y => y * y)) - my * my)
    val expected = cov / (sx * sy)
    assert(r.getLong(r.fieldIndex("n_edges")) == sym.size)
    assert(math.abs(r.getDouble(r.fieldIndex("assortativity")) - expected)
      < 1e-5, s"got ${r.getDouble(r.fieldIndex("assortativity"))} vs $expected")
  }

  test("path counts match an exact JVM layered-BFS sigma recompute") {
    val rows = Curation.pathCounts(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val n = graft.Tables(spark, sf001, "documents").count()
    val raw = (0L until n).flatMap(i =>
      Seq((i, (i + 1) % n), (i, (i + 2) % n), (i, (i * 31 + 7) % n)))
    val und = raw.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet
    val adj = (und ++ und.map { case (u, v) => (v, u) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val landmarks = (0L until n).filter(_ % 97 == 0)
    landmarks.foreach { lm =>
      // layered BFS with path counting
      var dist = Map(lm -> 0L)
      var sigma = Map(lm -> 1L)
      var layer = Seq(lm)
      for (k <- 1 to 6) {
        val next = scala.collection.mutable.Map[Long, Long]()
        layer.foreach { u =>
          adj.getOrElse(u, Seq.empty).foreach { v =>
            if (!dist.contains(v)) next(v) = next.getOrElse(v, 0L) + sigma(u)
          }
        }
        layer = next.keys.toSeq
        dist ++= layer.map(_ -> k.toLong)
        sigma ++= next
      }
      dist.foreach { case (node, d) =>
        val (gd, gs) = rows((lm, node))
        assert(gd === d, s"dist($lm,$node)")
        assert(gs === sigma(node), s"sigma($lm,$node)")
      }
      // and the engine reports nothing beyond the 6-hop horizon
      assert(rows.keys.count(_._1 == lm) === dist.size)
    }
    // multiple shortest paths genuinely occur (sigma > 1 somewhere)
    assert(rows.values.exists(_._2 > 1L))
  }

  test("clustering coefficient matches an exact JVM triangle recompute") {
    val rows = Curation.clusteringCoeff(spark, sf001).collect()
    val n = graft.Tables(spark, sf001, "documents").count()
    // rebuild the ring + affine-hash graph in plain Scala
    val raw = (0L until n).flatMap(i =>
      Seq((i, (i + 1) % n), (i, (i + 2) % n), (i, (i * 31 + 7) % n)))
    val und = raw.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet
    val adj = (und ++ und.map { case (u, v) => (v, u) })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    rows.foreach { r =>
      val (node, deg, tri, coeff) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val nbrs = adj(node).toSeq.sorted
      assert(deg === nbrs.length.toLong, s"deg($node)")
      val t = (for {
        i <- nbrs.indices; j <- (i + 1) until nbrs.length
        if und.contains((math.min(nbrs(i), nbrs(j)), math.max(nbrs(i), nbrs(j))))
      } yield 1).size
      assert(tri === t.toLong, s"tri($node)")
      val expect = if (deg >= 2) 2.0 * t / (deg * (deg - 1)) else 0.0
      assert(math.abs(coeff - expect) < 1e-6, s"coeff($node)")
    }
    // the synthetic graph is sparse but not triangle-free
    assert(rows.exists(_.getLong(2) > 0L))
    assert(rows.length.toLong === n)
  }

  test("sssp: weighted distances bracketed by hop counts, source at zero") {
    val dist = Curation.sssp(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hops = Curation.graphBfs(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    // same edge set + connected graph: identical coverage
    assert(dist.keySet == hops.keySet)
    assert(dist(0L) == 0L)
    // weights are in [1, 5]: hops <= dist <= 5 * hops, per node
    dist.foreach { case (n, d) =>
      assert(d >= hops(n) && d <= 5L * hops(n), s"node $n: d=$d hops=${hops(n)}")
    }
    // a weighted path may be strictly cheaper than greedy-by-hops: the
    // max weighted distance stays under the oracle cost cap with margin
    assert(dist.values.max <= 60L)
    // one round cannot reach every node: both loops fail loudly at the cap
    // instead of returning a partial distance map
    Seq[() => Any](() => Curation.sssp(spark, sf001, 1),
        () => Curation.graphBfs(spark, sf001, 1)).foreach { run =>
      val ex = intercept[IllegalStateException](run())
      assert(ex.getMessage.contains("did not converge"))
    }
  }

  test("harmonic landmarks match an exact JVM BFS recompute of the same graph") {
    val n = Tables(spark, sf001, "documents").count()
    val got = Curation.harmonicLandmarks(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // rebuild the derived graph (+1, +2, *31+7 ring chords) in memory
    val adj = Array.fill(n.toInt)(scala.collection.mutable.Set.empty[Int])
    for (u <- 0 until n.toInt;
         v <- Seq((u + 1) % n.toInt, (u + 2) % n.toInt,
           ((u.toLong * 31 + 7) % n).toInt) if u != v) {
      adj(u) += v; adj(v) += u
    }
    val want = (0 until n.toInt by 97).map { src =>
      var frontier = Set(src)
      var dist = Map(src -> 0)
      for (d <- 1 to 6) {
        frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
        dist ++= frontier.map(_ -> d)
      }
      (src.toLong, (dist.size - 1).toLong,
        dist.values.filter(_ > 0).map(2520L / _).sum)
    }
    assert(got === want)
    // the ring graph is connected and ~6-regular: six landmarks at
    // sf0.001, each reaching a large fraction of the 500 docs in 6 hops
    assert(got.size === 6 && got.forall(_._2 > 400L))
  }

  test("cluster split: zero leakage by construction, naive split leaks") {
    val rows = Curation.clusterSplit(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(rows.keySet == Set("train", "val", "test"))
    // independent DuckDB pins (sf0.001): the naive per-doc draw splits 11
    // near-dup pairs across train/val/test; the cluster draw splits none
    assert(rows.values.forall(_._4 == 0L), "cluster split must never leak")
    assert(rows.values.forall(_._5 == 11L))
    assert(rows("train") == ((372L, 393L, 391L, 0L, 11L)))
    // every doc lands in exactly one split under both assignments
    assert(rows.values.map(_._2).sum == 500L)
    assert(rows.values.map(_._3).sum == 500L)
  }

  test("data mixture: integer-exact targets, epochs = target/available") {
    val rows = Curation.dataMixture(spark, sf001).collect()
    val m = rows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(m.keySet == Set("de", "en", "es", "fr", "zh"))
    // independent DuckDB pins: en gets 8/20 of the 50k budget
    assert(m("en") == ((8L, 10343L, 20000L, 20000.0 / 10343, 9657L)))
    assert(m("fr") == ((3L, 4926L, 7500L, 7500.0 / 4926, 2574L)))
    // invariants: targets sum to the budget; shortfall ≡ max(t−a, 0);
    // epochs is exactly the target/available division
    assert(rows.map(_.getLong(3)).sum == 50000L)
    rows.foreach { r =>
      assert(r.getLong(5) == math.max(r.getLong(3) - r.getLong(2), 0L))
      assert(r.getDouble(4) == r.getLong(3).toDouble / r.getLong(2))
    }
  }
}
