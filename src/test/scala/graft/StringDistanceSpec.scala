package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GraftFunctions, StringDistances}

/** Pins the native string-distance kernels to the exact semantics the
  * `q_fuzzy_match` oracle hash-matches against DuckDB (see
  * `functions/StringDistance.scala`):
  *
  *  1. Damerau–Levenshtein is the FULL (Lowrance–Wagner) variant — the
  *     CA→ABC=2 witness separates it from restricted OSA (which says 3).
  *  2. Jaro–Winkler applies the prefix bonus only above the 0.7 boost
  *     threshold, cap 4, scale 0.1 (textbook MARTHA/MARHTA value).
  *  3. The expressions run inside whole-stage codegen (static-call kernels
  *     must not force an interpreted fallback).
  */
class StringDistanceSpec extends SparkSpec {
  import spark.implicits._

  private def u(s: String) = UTF8String.fromString(s)

  test("damerau-levenshtein is the unrestricted variant") {
    // the OSA/full-DL separating witness: CA -> AC -> ABC
    assert(StringDistances.damerauLevenshtein(u("CA"), u("ABC")) === 2)
    assert(StringDistances.damerauLevenshtein(u(""), u("abc")) === 3)
    assert(StringDistances.damerauLevenshtein(u("abcd"), u("abcd")) === 0)
    // adjacent transposition costs 1
    assert(StringDistances.damerauLevenshtein(u("abcd"), u("acbd")) === 1)
    // substitution + transposition mix
    assert(StringDistances.damerauLevenshtein(u("specter"), u("spectre")) === 1)
    // never below the plain length-difference bound
    assert(StringDistances.damerauLevenshtein(u("a"), u("abcdef")) === 5)
  }

  test("jaro-winkler matches the textbook values and boost gating") {
    val jw = StringDistances.jaroWinkler(u("martha"), u("marhta"))
    assert(math.abs(jw - 0.9611111111111111) < 1e-12)
    // below the 0.7 threshold the prefix bonus must NOT apply (DuckDB probe)
    val low = StringDistances.jaroWinkler(u("abcdefgh"), u("abzyxwvu"))
    assert(math.abs(low - 0.5) < 1e-12)
    assert(StringDistances.jaroWinkler(u(""), u("")) === 1.0)
    assert(StringDistances.jaroWinkler(u("abc"), u("")) === 0.0)
    assert(StringDistances.jaroWinkler(u("same"), u("same")) === 1.0)
    // zero matches → 0, not NaN
    assert(StringDistances.jaroWinkler(u("abc"), u("xyz")) === 0.0)
  }

  test("hamming counts positionwise mismatches plus overhang") {
    assert(StringDistances.hamming(u("abcd"), u("abce")) === 1)
    assert(StringDistances.hamming(u("abcd"), u("abcdxx")) === 2)
    assert(StringDistances.hamming(u(""), u("")) === 0)
  }

  test("expressions evaluate through the codegen path on a DataFrame") {
    val rows = Seq(("martha", "marhta"), ("CA", "ABC"), ("abcd", "abce"))
      .toDF("a", "b")
      .select(
        round(GraftFunctions.jaroWinkler(col("a"), col("b")), 6).as("jw"),
        GraftFunctions.damerauLev(col("a"), col("b")).as("dl"),
        GraftFunctions.hamming(col("a"), col("b")).as("ham"))
      .collect()
    assert(rows(0).getDouble(0) === 0.961111)
    assert(rows(1).getInt(1) === 2)
    assert(rows(2).getInt(2) === 1)
    // null-safe: null input → null output, no NPE in the generated code
    val n = Seq((Option.empty[String], "x")).toDF("a", "b")
      .select(GraftFunctions.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect()
    assert(n(0).isNullAt(0))
  }

  test("chunk generator: short, exact-multiple, and empty inputs") {
    val rows = Seq((1L, "a" * 250), (2L, "b" * 240), (3L, "short"), (4L, ""))
      .toDF("id", "t")
      .select(col("id"), GraftFunctions.chunkRows(col("t"), 120))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2).length))
    val byId = rows.groupBy(_._1)
    assert(byId(1L).map(t => (t._2, t._3)).sorted === Seq((0, 120), (1, 120), (2, 10)))
    assert(byId(2L).map(t => (t._2, t._3)).sorted === Seq((0, 120), (1, 120)),
      "exact multiple produces no empty tail chunk")
    assert(byId(3L).map(t => (t._2, t._3)) === Array((0, 5)))
    assert(!byId.contains(4L), "empty text generates zero rows")
  }

  test("string-distance metric axioms hold on random inputs (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val word = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val pair = for { a <- word; b <- word } yield (a, b)
    val triple = for { a <- word; b <- word; c <- word } yield (a, b, c)

    val dlProps = Prop.forAll(pair) { case (a, b) =>
      val d = StringDistances.damerauLevenshtein(u(a), u(b))
      val sym = StringDistances.damerauLevenshtein(u(b), u(a))
      d == sym &&                                   // symmetry
      d >= math.abs(a.length - b.length) &&         // length lower bound
      d <= math.max(a.length, b.length) &&          // replace-everything upper bound
      (d == 0) == (a == b)                          // identity of indiscernibles
    }
    val dlTriangle = Prop.forAll(triple) { case (a, b, c) =>
      // unrestricted DL is a metric (OSA is not — this guards the variant)
      StringDistances.damerauLevenshtein(u(a), u(c)) <=
        StringDistances.damerauLevenshtein(u(a), u(b)) +
        StringDistances.damerauLevenshtein(u(b), u(c))
    }
    val jwProps = Prop.forAll(pair) { case (a, b) =>
      val s = StringDistances.jaroWinkler(u(a), u(b))
      s >= 0.0 && s <= 1.0 &&
      s == StringDistances.jaroWinkler(u(b), u(a)) &&
      (a != b || s == 1.0)
    }
    val hamProps = Prop.forAll(pair) { case (a, b) =>
      val h = StringDistances.hamming(u(a), u(b))
      h == StringDistances.hamming(u(b), u(a)) &&
      h >= math.abs(a.length - b.length) &&
      (h == 0) == (a == b)
    }
    Seq("dl" -> dlProps, "dlTriangle" -> dlTriangle,
      "jw" -> jwProps, "ham" -> hamProps).foreach { case (name, p) =>
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(300), p)
      assert(res.passed, s"$name: ${res.status}")
    }
  }

  test("cdc boundaries partition the text exactly on random inputs (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val text = Gen.choose(0, 400).flatMap(n =>
      Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
    val prop = Prop.forAll(text) { t =>
      val ends = graft.functions.CdcBoundaries(
        org.apache.spark.sql.catalyst.expressions.Literal(t))
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toList
      val segs = ends.scanLeft(0)((_, e) => e).sliding(2).collect {
        case List(p, e) => t.substring(p, e) }.toList
      ends.nonEmpty && ends.last == t.length &&          // covers to the end
      ends == ends.sorted && ends.distinct == ends &&    // strictly increasing
      segs.mkString == t                                 // chunks partition exactly
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("cdc chunking is shift-robust where the fixed grid is not") {
    val rnd = new scala.util.Random(42)
    val base = (1 to 600).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shifted = "xyzq" + base // 4-char insertion at the front

    def chunks(text: String): Seq[String] = {
      val df = Seq(text).toDF("text")
        .select(col("text"), explode(GraftFunctions.cdcEnds(col("text"))).as("e"))
        .withColumn("pe", lag(col("e"), 1, 0).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("e"))))
        .select(expr("substring(text, pe + 1, e - pe)").as("c"))
      df.collect().map(_.getString(0)).toSeq
    }

    val a = chunks(base)
    val b = chunks(shifted)
    assert(a.size > 3, s"fixture too small: ${a.size} chunks")
    val shared = a.toSet.intersect(b.toSet).size
    // all chunks beyond the edited head must survive the 4-char shift;
    // only the first chunk (containing the insertion) may differ
    assert(shared >= a.size - 1,
      s"CDC lost ${a.size - shared} of ${a.size} chunks after a head insertion")
    // the fixed 120-char grid loses essentially everything under the same
    // shift — the property that motivates CDC
    def gridChunks(text: String) = text.grouped(120).toSeq
    val gridShared = gridChunks(base).toSet.intersect(gridChunks(shifted).toSet)
    assert(gridShared.isEmpty, "grid unexpectedly survived the shift")
  }

  test("topk heap aggregate matches the window twin under ties and partial merge") {
    // adversarial fixture: heavy value ties (every value repeated across
    // ids), spread over 8 partitions so the serialize/merge path runs,
    // plus a group smaller than k
    val rows = (0L until 200L).map(id => ("g" + (id % 3), (id % 7).toDouble, id)) ++
      Seq(("tiny", 1.0, 9000L), ("tiny", 1.0, 9001L))
    val df = rows.toDF("g", "v", "id").repartition(8)

    val viaHeap = df.groupBy(col("g"))
      .agg(GraftFunctions.topK(col("v"), col("id"), 5).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("g"), col("pos"), col("t.value").as("v"), col("t.id").as("id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet

    val viaWindow = df.withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("v").desc, col("id"))))
      .filter(col("rnk") <= 5)
      .select(col("g"), (col("rnk") - 1).as("pos"), col("v"), col("id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet

    assert(viaHeap === viaWindow)
    assert(viaHeap.count(_._1 == "tiny") === 2, "under-k group returns all members")
  }
}
