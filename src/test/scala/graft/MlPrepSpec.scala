package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextNormalizers
import graft.ops.MlPrep

/** Semantics pins for the ML-prep family (ops/MlPrep.scala). The driver
  * oracle proves DuckDB parity at sf0.01; these tests pin the CONTRACTS —
  * kernel-level Unicode behavior, leakage-safety of the target encoding,
  * linkage score bounds, and the substring-dedup detection guarantee. */
class MlPrepSpec extends SparkSpec {

  private def u(s: String) = UTF8String.fromString(s)

  test("mlm corruption plan matches a full in-memory re-derivation") {
    val rows = MlPrep.mlmMask(spark, sf001).collect()
    assert(rows.nonEmpty)
    val docsM = Tables(spark, sf001, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent vocab: count desc, term asc, 1-based ids
    val vocab = docsM.values.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, os) => (t, os.size) }.toSeq
      .sortBy { case (t, n) => (-n, t) }.map(_._1).toIndexedSeq
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var (tot, sel) = (0L, 0L)
    rows.foreach { r =>
      val (id, cor) = (r.getLong(0), r.getString(6))
      val orig = docsM(id).split(" ", -1)
      val expected = orig.zipWithIndex.map { case (tok, pos) =>
        val m = md5hex(s"graft-mlm:$id:$pos")
        val h = java.lang.Long.parseLong(m.take(4), 16)
        // rid uses its own 32-bit segment (hex 5-12) → full-vocab draws
        val h2 = java.lang.Long.parseLong(m.substring(4, 12), 16)
        if (h % 100 >= 15) tok
        else (h / 100) % 10 match {
          case s if s <= 7 => "[MASK]"
          case 8 => vocab((h2 % vocab.size).toInt)
          case _ => tok
        }
      }
      assert(cor === expected.mkString(" "), s"doc $id corruption drifted")
      assert(r.getLong(1) === orig.length.toLong)
      assert(r.getLong(2) === r.getLong(3) + r.getLong(4) + r.getLong(5))
      tot += r.getLong(1); sel += r.getLong(2)
    }
    // the selection rate is the designed 15 % (md5 uniformity)
    val rate = sel.toDouble / tot
    assert(rate > 0.10 && rate < 0.20, s"selection rate $rate")
  }

  test("span corruption: (input, target) pairs splice back to the original") {
    val rows = MlPrep.spanCorrupt(spark, sf001).collect()
    assert(rows.nonEmpty)
    val docsM = Tables(spark, sf001, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var sawSpan = false
    rows.foreach { r =>
      val (id, n, nm, ns) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (input, target) = (r.getString(4), r.getString(5))
      val orig = docsM(id).split(" ", -1)
      assert(n === orig.length.toLong)
      // independent mask re-derivation: start<5% then 3-token coverage
      val starts = orig.indices.map { p =>
        java.lang.Long.parseLong(md5hex(s"graft-t5:$id:$p").take(4), 16) % 100 < 5
      }
      val masked = orig.indices.map(p =>
        (math.max(0, p - 2) to p).exists(starts))
      assert(nm === masked.count(identity).toLong)
      // T5's defining invariant: splicing each <extra_id_k> target span
      // back into the input reproduces the original text exactly
      val spans = target.split("<extra_id_\\d+> ").toSeq
        .filter(_.nonEmpty).map(_.trim)
      assert(ns === spans.length.toLong)
      val spliced = ("<extra_id_\\d+>".r.split(input).toSeq, spans) match {
        case (parts, sp) =>
          parts.zipAll(sp.map(_ + ""), "", "").map { case (a, b) => a + b }
            .mkString("").replaceAll(" +", " ").trim
      }
      assert(spliced === orig.mkString(" ").replaceAll(" +", " ").trim,
        s"doc $id splice drifted")
      if (ns > 0) sawSpan = true
    }
    assert(sawSpan, "no spans drawn anywhere — rate rule broken")
  }

  test("nfc composes combining marks; idempotent and ASCII-stable") {
    assert(TextNormalizers.nfc(u("a\u0301")).toString == "\u00e1")
    assert(TextNormalizers.nfc(u("\u00e1")).toString == "\u00e1")
    assert(TextNormalizers.nfc(u("plain ascii")).toString == "plain ascii")
    // decomposed e + grave inside a word
    assert(TextNormalizers.nfc(u("cafe\u0300")).toString == "caf\u00e8")
  }

  test("stripAccents drops marks from composed AND decomposed forms") {
    assert(TextNormalizers.stripAccents(u("\u00e1\u00e9\u00ee\u00f1\u00fc"))
      .toString == "aeinu")
    assert(TextNormalizers.stripAccents(u("a\u0301b\u0300")).toString == "ab")
    assert(TextNormalizers.stripAccents(u("no accents")).toString == "no accents")
  }

  test("substring dedup only reports cross-document grams") {
    val out = MlPrep.substringDedup(spark, sf001).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(r.fieldIndex("n_docs")) >= 2))
    assert(out.forall(r =>
      r.getLong(r.fieldIndex("n_occ")) >= r.getLong(r.fieldIndex("n_docs"))))
  }

  test("substring dedup detects any shared run >= GramLen+Stride-1 chars") {
    // the sampling guarantee: windows at stride 10 of length 40 must align
    // inside a shared run of 49+ chars wherever it starts in either doc
    import spark.implicits._
    val shared = "x" * 49
    val docs = Seq(
      (1L, "A" * 7 + shared + "B" * 20),  // run starts at offset 7
      (2L, "C" * 13 + shared + "D" * 5))  // run starts at offset 13
      .toDF("doc_id", "text")
    val grams = docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 39, lit(10))).as("p"))
      .select(col("doc_id"), expr("substring(text, p, 40)").as("gram"))
      .groupBy("gram").agg(countDistinct("doc_id").as("n_docs"))
      .where(col("n_docs") >= 2).count()
    assert(grams >= 1)
  }

  test("linkage scores stay inside the committed weight envelope") {
    val hist = MlPrep.linkageHist(spark, sf001).collect()
    val scores = hist.map(_.getInt(0))
    assert(scores.min >= -24 && scores.max <= 82)
    // matched pairs are exactly the histogram mass at score >= 60
    val linked = MlPrep.recordLinkage(spark, sf001).count()
    val expected = hist.filter(_.getInt(0) >= 60).map(_.getLong(1)).sum
    assert(linked == expected)
  }

  test("target encoding is leakage-safe: own fold excluded from the mean") {
    // recompute one (cat, fold) cell from raw rows and compare
    val enc = MlPrep.targetEncoding(spark, sf001)
      .where(col("cat") === "1-URGENT" && col("fold") === 0).head()
    val base = Tables(spark, sf001, "orders")
      .select(col("o_orderpriority").as("cat"),
        (conv(substring(md5(col("o_orderkey").cast("string")), 1, 7), 16, 10)
          .cast("long") % 5).cast("int").as("fold"),
        col("o_totalprice"))
      .where(col("cat") === "1-URGENT")
    val others = base.where(col("fold") =!= 0)
      .agg(sum("o_totalprice").as("s"), count(lit(1)).as("n")).head()
    val expected = others.getDouble(0) / others.getLong(1)
    assert(math.abs(enc.getDouble(enc.fieldIndex("enc")) - expected) < 1e-4)
  }

  test("dp release: suppression holds and noise stays in the u-envelope") {
    val rel = MlPrep.dpRelease(spark, sf001).collect()
    assert(rel.nonEmpty)
    val truth = Tables(spark, sf001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).cast("string").as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rel.foreach { r =>
      val n = truth((r.getString(0), r.getString(1)))
      assert(n >= 10, "released a suppressed cell")
      // u is >= 5e-7 from both ends, so |laplace noise| <= ln(1e6) ~ 13.9
      assert(math.abs(r.getDouble(2) - n) <= 14.0)
    }
    // no small cell from the truth map escaped into the release
    assert(rel.length == truth.count(_._2 >= 10))
  }

  test("embargo split: no row lands within an embargo of a later split") {
    val rows = MlPrep.embargoSplit(spark, sf001).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet.subsetOf(
      Set("train", "embargo1", "val", "embargo2", "test")))
    val e = 3600000000L
    def us(split: String, f: String) =
      rows(split).getLong(rows(split).fieldIndex(f))
    // train ends at least one embargo before val begins, same for val/test
    if (rows.contains("train") && rows.contains("val"))
      assert(us("val", "min_ts_us") - us("train", "max_ts_us") > e)
    if (rows.contains("val") && rows.contains("test"))
      assert(us("test", "min_ts_us") - us("val", "max_ts_us") > e)
  }

  test("negative sampling: k slots per anchor, distinct, deterministic") {
    val negs = MlPrep.negativeSample(spark, sf001).collect()
    val byAnchor = negs.groupBy(_.getLong(0))
    assert(byAnchor.nonEmpty)
    byAnchor.foreach { case (a, rs) =>
      assert(rs.length >= 4 && rs.length <= 5) // 5 slots minus rare self-draw
      val ids = rs.map(_.getLong(2))
      assert(ids.distinct.length == ids.length)
      assert(!ids.contains(a))
    }
    val again = MlPrep.negativeSample(spark, sf001).collect()
    assert(negs.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("feature hashing conserves token mass inside the fixed dim") {
    val fh = MlPrep.featureHash(spark, sf001).collect()
    assert(fh.forall { r =>
      val f = r.getInt(r.fieldIndex("feat")); f >= 0 && f < 1024
    })
    val hashedTokens = fh.map(_.getLong(2)).sum
    val rawTokens = Tables(spark, sf001, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .where(col("t") =!= "").count()
    assert(hashedTokens == rawTokens)
  }

  test("eval metrics: counts reconcile and classifier beats chance") {
    val m = MlPrep.evalMetrics(spark, sf001).collect()
    val total = Tables(spark, sf001, "embeddings").count()
    // tp+fn per class = class size; summed over classes = corpus
    assert(m.map(r => r.getLong(1) + r.getLong(3)).sum == total)
    // tp+fp summed = corpus too (every vector predicted exactly once)
    assert(m.map(r => r.getLong(1) + r.getLong(2)).sum == total)
    m.foreach { r =>
      val p = r.getDouble(r.fieldIndex("precision"))
      val rc = r.getDouble(r.fieldIndex("recall"))
      assert(p >= 0.0 && p <= 1.0 && rc >= 0.0 && rc <= 1.0)
    }
    // label-clustered fixture: nearest-centroid must beat 10-class chance
    val accuracy = m.map(_.getLong(1)).sum.toDouble / total
    assert(accuracy > 0.2, s"accuracy $accuracy not above chance")
  }

  test("auc is a proper rank statistic: bounded and complement-symmetric") {
    val r = MlPrep.aucRank(spark, sf001).head()
    val auc = r.getDouble(r.fieldIndex("auc"))
    assert(auc >= 0.0 && auc <= 1.0)
    assert(r.getLong(0) + r.getLong(1) ==
      Tables(spark, sf001, "embeddings").count())
    // recompute with labels flipped: tie-free scores => auc' = 1 - auc
    import graft.ops.ScaledRank
    val flipped = ScaledRank.withGlobalRanks(
        Tables(spark, sf001, "embeddings").select(col("vec_id"),
          element_at(col("embedding"), 1).cast("double").as("score"),
          when(col("label") >= 5, 1).otherwise(0).as("pos")),
        Seq(col("score"), col("vec_id")), Seq(col("score"), col("vec_id")))
      .agg(sum(when(col("pos") === 1, col("rn")).otherwise(0L)).as("rsum"),
        sum(col("pos")).cast("double").as("np"),
        sum(lit(1) - col("pos")).cast("double").as("nn"))
      .select(((col("rsum").cast("double") - col("np") * (col("np") + 1) / 2) /
        (col("np") * col("nn"))).as("auc")).head().getDouble(0)
    assert(math.abs(auc + flipped - 1.0) < 1e-5)
  }

  test("calibration bins: mass conserved, ece is the weighted gap sum") {
    val rows = MlPrep.calibrationBins(spark, sf001).collect()
    val total = Tables(spark, sf001, "embeddings").count()
    assert(rows.map(_.getLong(rows.head.fieldIndex("n"))).sum == total)
    assert(rows.forall { r =>
      val b = r.getInt(0); b >= 0 && b <= 9
    })
    val ece = rows.head.getDouble(rows.head.fieldIndex("ece"))
    assert(ece >= 0.0 && ece <= 1.0)
    val recomputed = rows.map { r =>
      r.getDouble(r.fieldIndex("gap")) *
        r.getLong(r.fieldIndex("n")) / total.toDouble
    }.sum
    assert(math.abs(ece - recomputed) < 1e-4)
  }

  test("data profile reports exact per-column facts") {
    val prof = MlPrep.dataProfile(spark, sf001).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(prof.size == 6)
    val rf = prof("l_returnflag")
    assert(rf.getLong(rf.fieldIndex("n_null")) == 0L)
    assert(rf.getLong(rf.fieldIndex("n_distinct")) == 3L)
    assert(rf.getString(rf.fieldIndex("min_val")) == "A")
    assert(rf.getString(rf.fieldIndex("max_val")) == "R")
    val total = Tables(spark, sf001, "lineitem").count()
    prof.values.foreach { r =>
      assert(r.getLong(r.fieldIndex("top_freq")) <= total)
      assert(r.getLong(r.fieldIndex("n_distinct")) <= total)
    }
    // orderkey is near-unique: its top value frequency is tiny vs flags
    assert(prof("l_orderkey").getLong(rf.fieldIndex("top_freq")) <
      prof("l_returnflag").getLong(rf.fieldIndex("top_freq")))
  }

  test("eval summary agrees with the per-class metrics table") {
    val sum = MlPrep.evalSummary(spark, sf001).head()
    val perClass = MlPrep.evalMetrics(spark, sf001).collect()
    val total = perClass.map(r => r.getLong(1) + r.getLong(3)).sum // tp+fn
    val acc = perClass.map(_.getLong(1)).sum.toDouble / total
    assert(math.abs(sum.getDouble(sum.fieldIndex("accuracy")) - acc) < 1e-5)
    val macroF1 = perClass.map(_.getDouble(perClass.head.fieldIndex("f1"))).sum /
      perClass.length
    assert(math.abs(sum.getDouble(sum.fieldIndex("macro_f1")) - macroF1) < 1e-4)
    val kappa = sum.getDouble(sum.fieldIndex("kappa"))
    assert(kappa > -1.0 && kappa < 1.0)
    assert(kappa < acc) // kappa discounts chance agreement
  }

  test("gram matrix is the exact quantized scatter (diag positive, symmetric half)") {
    val g = MlPrep.gramMatrix(spark, sf001).collect()
    assert(g.length == 64 * 65 / 2) // upper triangle incl. diagonal
    g.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      assert(i >= 1 && j >= i && j <= 64)
      if (i == j) assert(r.getLong(2) >= 0L) // Σ v² never negative
    }
    // spot-check one diagonal cell against a direct recompute
    val direct = Tables(spark, sf001, "embeddings")
      .select(expr(
        "CAST(floor(CAST(embedding[0] AS DOUBLE) * 1024) AS BIGINT)").as("v"))
      .agg(sum(col("v") * col("v"))).head().getLong(0)
    val cell11 = g.find(r => r.getInt(0) == 1 && r.getInt(1) == 1).get.getLong(2)
    assert(cell11 == direct)
  }

  test("geo grid join finds exactly the brute-force close pairs") {
    import graft.ops.Analytics
    val out = Analytics.geoPairs(spark, sf001).collect()
    assert(out.forall { r =>
      val cx = r.getInt(0); val cy = r.getInt(1)
      cx >= -5 && cx <= 4 && cy >= -5 && cy <= 4 &&
        r.getDouble(r.fieldIndex("min_km")) <=
          r.getDouble(r.fieldIndex("avg_km")) &&
        r.getDouble(r.fieldIndex("avg_km")) <= 30.0
    })
    // 30 km < 1 degree everywhere on the +-5 degree lattice, so the 3x3
    // neighbor probe must find every close pair the all-pairs scan finds
    val pts = Tables(spark, sf001, "customer").select(
      col("c_custkey").as("id"),
      ((conv(substring(md5(concat(lit("lat-"),
        col("c_custkey").cast("string"))), 1, 7), 16, 10).cast("long") % 100)
        .cast("double") / 10.0 - 5.0).as("lat"),
      ((conv(substring(md5(concat(lit("lon-"),
        col("c_custkey").cast("string"))), 1, 7), 16, 10).cast("long") % 100)
        .cast("double") / 10.0 - 5.0).as("lon"))
    val a = pts.select(col("id").as("ia"), col("lat").as("la"), col("lon").as("oa"))
    val b = pts.select(col("id").as("ib"), col("lat").as("lb"), col("lon").as("ob"))
    val dLat = radians(col("lb") - col("la")) / 2
    val dLon = radians(col("ob") - col("oa")) / 2
    val km = lit(12742.0) * asin(sqrt(sin(dLat) * sin(dLat) +
      cos(radians(col("la"))) * cos(radians(col("lb"))) * sin(dLon) * sin(dLon)))
    val brute = a.crossJoin(b).where(col("ia") < col("ib"))
      .where(km <= 30.0).count()
    assert(out.map(_.getLong(out.head.fieldIndex("n_pairs"))).sum == brute)
  }

  test("hll merge: weekly max-merged registers equal the direct sketch") {
    import graft.ops.AffineSketch
    val rows = AffineSketch.hllMerge(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("merge_exact")),
        s"merge broke associativity for ${r.getString(0)}")
      assert(r.getLong(r.fieldIndex("n_weeks")) >= 2)
      assert(r.getDouble(r.fieldIndex("est_direct")) > 0.0)
    }
  }

  test("kmv set algebra: estimates track the exact union/intersection") {
    import graft.ops.AffineSketch
    val r = AffineSketch.kmvIntersect(spark, sf001).head()
    val exactU = r.getLong(r.fieldIndex("exact_union"))
    val exactI = r.getLong(r.fieldIndex("exact_inter"))
    assert(exactU > 0 && exactI >= 0 && exactI <= exactU)
    val estU = r.getDouble(r.fieldIndex("est_union"))
    val jE = r.getDouble(r.fieldIndex("jaccard_exact"))
    val jS = r.getDouble(r.fieldIndex("jaccard_est"))
    // k=64 => sigma(J) ~ sqrt(J(1-J)/64) < 0.07; allow 3 sigma
    assert(math.abs(jS - jE) < 0.2, s"jaccard est $jS vs exact $jE")
    assert(math.abs(estU - exactU) / exactU < 0.4,
      s"union est $estU vs exact $exactU")
  }

  test("grid dbscan finds the four corner density clusters") {
    import graft.ops.Analytics
    val cl = Analytics.gridDbscan(spark, sf001).collect()
    assert(cl.length == 4, s"expected 4 corner clusters, got ${cl.length}")
    cl.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_points")) > 0)
      assert(r.getLong(r.fieldIndex("n_cells")) > 0)
      // each cluster stays inside one quadrant: its bounding box must not
      // straddle an axis (the bimodal transform leaves the middle sparse)
      assert(r.getInt(r.fieldIndex("max_cx")) < 0 ||
        r.getInt(r.fieldIndex("min_cx")) >= 0)
      assert(r.getInt(r.fieldIndex("max_cy")) < 0 ||
        r.getInt(r.fieldIndex("min_cy")) >= 0)
    }
  }

  test("woe/iv: iv_total is the sum of per-bin iv terms") {
    val rows = MlPrep.woeIv(spark, sf001).collect()
    val ivTotal = rows.head.getDouble(rows.head.fieldIndex("iv_total"))
    assert(rows.forall(r => r.getDouble(r.fieldIndex("iv_total")) == ivTotal))
    val sumTerms = rows.map(r => r.getDouble(r.fieldIndex("iv_term"))).sum
    assert(math.abs(ivTotal - sumTerms) < 1e-4)
    assert(ivTotal >= 0.0) // IV is a sum of (p-q)ln(p/q) terms, each >= 0
  }

  test("line dedup: first occurrence wins globally, within-doc dups removed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("linededup").toString
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"b$i").mkString(" ")
    val segC = (1 to 10).map(i => s"c$i").mkString(" ")
    Seq(
      (0L, s"$segA $segB", "en", "web", 0L),   // both segments original
      (1L, s"$segA $segC", "en", "web", 0L),   // segA is doc0's → removed
      (2L, s"$segC $segC", "en", "web", 0L))   // 2nd copy: within-doc dup
                                               //  AND segC first seen in doc1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = MlPrep.lineDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4)))).toMap
    def md5p(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString.take(16)
    assert(rows(0L) == ((2L, 2L, 1.0, md5p(s"$segA $segB"))))
    assert(rows(1L) == ((2L, 1L, 0.5, md5p(segC))))
    assert(rows(2L) == ((2L, 0L, 0.0, md5p(""))))
  }

  test("power iteration trajectory matches an exact integer JVM recompute") {
    val out = MlPrep.powerIteration(spark, sf001).collect()
    assert(out.length == 64)
    val v = out.sortBy(_.getInt(0)).map(_.getLong(1))
    // independent reference: same quantized gram, same 3 integer steps
    // with the exact floor-division normalization — bit-for-bit equality
    // (direction CONVERGENCE is data-dependent: this fixture's random
    // embeddings give a near-flat top spectrum, so the contract — like
    // pageRank's fixed 5 rounds — is the k-step trajectory itself)
    val q = graft.Tables(spark, sf001, "embeddings").collect()
      .map(_.getSeq[Float](1)
        .map(x => math.floor(x.toDouble * 1024).toLong).toArray)
    val g = Array.ofDim[Long](64, 64)
    for (row <- q; i <- 0 until 64; j <- 0 until 64) g(i)(j) += row(i) * row(j)
    val S = 10000L
    var ref = Array.fill(64)(S)
    var lastM = 0L
    for (_ <- 1 to 3) {
      val w = Array.tabulate(64)(i =>
        (0 until 64).map(j => g(i)(j) * ref(j)).sum)
      lastM = w.map(math.abs).max
      ref = w.map { x =>
        val ws = x * S
        (ws - (((ws % lastM) + lastM) % lastM)) / lastM
      }
    }
    assert(v.toSeq == ref.toSeq)
    val growth = out.head.getDouble(out.head.fieldIndex("growth"))
    assert(growth == math.rint(lastM.toDouble / S * 1e6) / 1e6)
    spark.catalog.clearCache()
  }

  test("logreg gradient steps strictly reduce the training loss") {
    val out = MlPrep.logregStep(spark, sf001).collect()
    assert(out.length == 64)
    val loss0 = out.head.getDouble(out.head.fieldIndex("loss0"))
    val loss1 = out.head.getDouble(out.head.fieldIndex("loss1"))
    assert(loss0 == 0.693147) // ln 2 exactly, the w=0 log-loss
    assert(loss1 < loss0, s"step 1 must descend: $loss1 vs $loss0")
    // gradient is a real signal: some dimension moved
    assert(out.exists(_.getDouble(out.head.fieldIndex("w1")) != 0.0))
    // step 2 keeps moving in SOME direction (w2 != w1 somewhere)
    assert(out.exists(r => r.getDouble(r.fieldIndex("w2"))
      != r.getDouble(r.fieldIndex("w1"))))
    spark.catalog.clearCache()
  }

  test("conformal: interval coverage honors the 1-alpha guarantee") {
    val r = MlPrep.conformal(spark, sf001).collect().head
    val cov = r.getDouble(r.fieldIndex("coverage"))
    // distribution-free guarantee: >= 0.9 in expectation; finite-sample
    // slack at sf0.001 (~1200 test rows) is a few percent
    assert(cov >= 0.85 && cov <= 0.97, s"coverage $cov")
    assert(r.getDouble(r.fieldIndex("qhat")) > 0.0)
    assert(r.getLong(r.fieldIndex("n_cal")) > 0 &&
      r.getLong(r.fieldIndex("n_test")) > 0)
    spark.catalog.clearCache()
  }

  test("decision stump finds a perfect split when one exists") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("stump").toString
    // y = R exactly when quantity <= 15: the quantity<=20 candidate is a
    // PERFECT split (gini 0); every other candidate is impure
    val li = (1 to 40).map { i =>
      val qty = if (i <= 20) 10.0 else 30.0
      val flag = if (i <= 20) "R" else "N"
      (i.toLong, 1L, 1L, i, qty, 50000.0, 0.05, 0.0, flag, "O",
        ts("2015-07-02 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    li.write.parquet(s"$tmp/lineitem.parquet")
    val rows = MlPrep.decisionStump(spark, tmp).collect()
    val best = rows.filter(_.getBoolean(rows.head.fieldIndex("is_best")))
    // with values only {10, 30}, thresholds 10 AND 20 both isolate the R
    // rows exactly (gini 0) — exact ties SHARE the is_best flag; within
    // the feature the rank tie-break prefers the smaller threshold
    assert(best.map(r => (r.getString(0),
      r.getDouble(r.fieldIndex("thr")))).toSet ==
      Set(("quantity", 10.0), ("quantity", 20.0)))
    assert(best.forall(_.getDouble(best.head.fieldIndex("gini_split")) == 0.0))
    assert(best.map(_.getInt(best.head.fieldIndex("rk"))).sorted.toSeq ==
      Seq(1, 2))
    spark.catalog.clearCache()
  }

  test("quantile normalization: all features share the reference distribution") {
    val rows = MlPrep.quantileNorm(spark, sf001).collect()
    assert(rows.length == 33)
    val byDecile = rows.groupBy(_.getInt(1))
    // the defining property: at each rank probe, every feature maps to the
    // SAME reference value — after the remap the distributions are equal
    byDecile.foreach { case (d, rs) =>
      assert(rs.map(_.getDouble(3)).distinct.length == 1, s"decile $d")
      assert(rs.length == 3)
    }
    // raw deciles are monotone within each feature (rank machinery sane)
    rows.groupBy(_.getString(0)).foreach { case (f, rs) =>
      val raw = rs.sortBy(_.getInt(1)).map(_.getDouble(2))
      assert(raw.zip(raw.drop(1)).forall { case (a, b) => a <= b }, f)
    }
    // reference distribution is monotone too (it is a sorted average)
    val ref = rows.filter(_.getString(0) == "price").sortBy(_.getInt(1))
      .map(_.getDouble(3))
    assert(ref.zip(ref.drop(1)).forall { case (a, b) => a <= b })
    spark.catalog.clearCache()
  }

  test("golden record resolves transitive chains and applies survivorship") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("golden").toString
    // all nation 7, same trailing name digit, same 1k balance band:
    // c1~c2 (|Δbal|=50 → 24+33+10+15=82) and c2~c5 (|Δbal|=90 → 82) match;
    // c1~c5 (|Δbal|=140 → 24-12+10+15=37) does NOT — the entity {1,2,5}
    // exists only through transitive closure. c3 is a different band and
    // segment everywhere → singleton, suppressed by n_records >= 2.
    Seq(
      (1L, "Customer#000000011", 7L, 1500.00, "BUILDING"),
      (2L, "Customer#000000021", 7L, 1550.00, "BUILDING"),
      (5L, "Customer#000000051", 7L, 1640.00, "BUILDING"),
      (3L, "Customer#000000033", 7L, 9700.00, "HOUSEHOLD"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val rows = MlPrep.goldenRecord(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(r.fieldIndex("entity_id")) == 1L)
    assert(r.getLong(r.fieldIndex("n_records")) == 3L)
    // segment mode (entities are segment-pure under the committed weights:
    // without the +24 seg-agree term a pair maxes at 54 < 60, so any
    // matched chain shares one segment); max balance; min name
    assert(r.getString(r.fieldIndex("segment")) == "BUILDING")
    assert(r.getDouble(r.fieldIndex("max_bal")) == 1640.00)
    assert(r.getString(r.fieldIndex("first_name")) == "Customer#000000011")
  }

  test("group k-fold: grouped draw never leaks, naive draw provably does") {
    val out = graft.ops.MlPrep.groupKfold(spark, sf001).collect()
    assert(out.nonEmpty && out.length <= 5)
    val r = out.head
    // structural zero, computed from the data rather than pinned
    assert(r.getLong(r.fieldIndex("n_leaky_group")) === 0L)
    // the counterfactual per-row draw scatters multi-order customers
    assert(r.getLong(r.fieldIndex("n_leaky_naive")) > 0L)
    // every order lands in exactly one fold: fold sizes sum to the table
    val total = out.map(x => x.getLong(x.fieldIndex("n_rows"))).sum
    assert(total === graft.Tables(spark, sf001, "orders").count())
  }

  test("isotonic fit = pool-adjacent-violators; monotone non-decreasing") {
    val out = graft.ops.MlPrep.isotonicFit(spark, sf001).collect()
    assert(out.nonEmpty)
    val iso = out.map(r => r.getDouble(r.fieldIndex("iso_rate")))
    iso.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0) <= w(1) + 1e-12, "must be monotone")
    }
    // in-memory PAVA over the same bins (y recovered exactly from the
    // 6-dp rate: |round6(y/w)·w − y| < 0.5 for the fixture's bin sizes)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    for (r <- out) {
      val w = r.getLong(r.fieldIndex("n"))
      val y = math.round(r.getDouble(r.fieldIndex("raw_rate")) * w)
      blocks += ((w, y, 1))
      while (blocks.length > 1 &&
        blocks(blocks.length - 2)._2 * blocks.last._1 >=
          blocks.last._2 * blocks(blocks.length - 2)._1) {
        val b = blocks.remove(blocks.length - 1)
        val a = blocks.remove(blocks.length - 1)
        blocks += ((a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
    }
    val want = blocks.toSeq.flatMap { case (w, y, span) =>
      Seq.fill(span)(y.toDouble / w) }
    assert(want.length === iso.length)
    iso.zip(want).foreach { case (got, exp) =>
      assert(math.abs(got - exp) < 1e-6 + 1e-12, s"$got vs PAVA $exp")
    }
  }

  test("media phash banding: any pair within Hamming 3 collides on a band") {
    // pigeonhole over the 4 x 15-bit bands, exercised on adversarial
    // hashes: distance-3 pairs whose flipped bits are packed to straddle
    // band boundaries, plus a distance-4 pair that CAN evade all bands
    def bands(h: Long): Seq[Long] = (0 to 3).map(j => (h >> (15 * j)) & 32767L)
    val base = 0x0123456789ABCL & ((1L << 60) - 1)
    for (bits <- Seq(Seq(0), Seq(14, 15), Seq(29, 30, 44), Seq(0, 1, 59))) {
      val other = bits.foldLeft(base)((a, b) => a ^ (1L << b))
      assert(bands(base).zip(bands(other)).exists { case (x, y) => x == y },
        s"distance-${bits.size} pair must share a band: $bits")
    }
    val evader = Seq(0, 15, 30, 45).foldLeft(base)((a, b) => a ^ (1L << b))
    assert(!bands(base).zip(bands(evader)).exists { case (x, y) => x == y })
  }
}
