package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** GraftExtensions: the SparkSessionExtensions injection path must resolve
  * the native functions from plain SQL text with no per-session setup.
  * Separate session builder on purpose. */
class ExtensionsSpec extends AnyFunSuite {

  private def withExtensions(body: SparkSession => Unit): Unit = {
    // getOrCreate reuses any live session and would IGNORE the extensions —
    // force a fresh context (later suites lazily recreate their own)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try body(spark)
    finally spark.stop() // this suite's session must not leak its catalog
  }

  test("withExtensions session resolves graft_* functions from SQL") {
    withExtensions { spark =>
      val dot = spark.sql(
        "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
        .head().getDouble(0)
      assert(dot === 32.0)
      val ham = spark.sql(
        "SELECT graft_sig_agreement(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 4L)) AS a")
        .head().getDouble(0)
      assert(ham === 0.75)
      val sh = spark.sql(
        "SELECT graft_bigram_shingles(array('a', 'b', 'a', 'b')) AS s")
        .head().getSeq[String](0)
      assert(sh === Seq("a b", "b a"))

      // injected optimizer rule: bounded-levenshtein predicates grow a free
      // length-difference gate, and results are unchanged
      import spark.implicits._
      // parquet round-trip: a pure LocalRelation would be constant-folded
      // by ConvertToLocalRelation and the filter would vanish entirely
      val tmp = java.nio.file.Files.createTempDirectory("graft_lev").toString
      Seq(
        ("kitten", "sitting"),   // lev 3, len diff 1 → kept by <= 3
        ("kitten", "kitten"),    // lev 0 → kept
        ("a", "abcdefgh"),       // len diff 7 → gate rejects before DP
        ("abc", "xyzabc"))       // lev 3 (3 inserts) → kept
        .toDF("t1", "t2")
        .write.mode("overwrite").parquet(s"$tmp/pairs")
      spark.read.parquet(s"$tmp/pairs").createOrReplaceTempView("pairs_v")
      val q = spark.sql(
        "SELECT t1, t2 FROM pairs_v WHERE levenshtein(t1, t2) <= 3")
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.toLowerCase.contains("abs((length(t1"),
        s"length gate not injected:\n$optimized")
      val rows = q.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows === Set(("kitten", "sitting"), ("kitten", "kitten"),
        ("abc", "xyzabc")))
      // idempotent under the fixpoint batch: exactly one gate, not many
      val gateCount = "abs\\(\\(length\\(t1".r
        .findAllIn(optimized.toLowerCase).length
      assert(gateCount === 1, s"rule re-added gates:\n$optimized")
    }
  }

  test("every GraftFunctions.sqlFunctions name resolves from SQL text") {
    // one probe per table entry: a name added to the table without a probe,
    // or a probe for a name the table lost, fails the key comparison
    val probes = Map(
      "graft_dot" -> "SELECT graft_dot(array(1.0D), array(2.0D))",
      "graft_dot_long" -> "SELECT graft_dot_long(array(1L, 2L), array(3L, 4L))",
      "graft_sqdist_long" -> "SELECT graft_sqdist_long(array(1L, 2L), array(3L, 5L))",
      "graft_minhash_sig" -> "SELECT graft_minhash_sig(array('a', 'b'), 4)",
      "graft_sig_agreement" -> "SELECT graft_sig_agreement(array(1L), array(1L))",
      "graft_bigram_shingles" -> "SELECT graft_bigram_shingles(array('a', 'b'))",
      "graft_word_shingles" -> "SELECT graft_word_shingles(array('a', 'b', 'c'), 2)",
      "graft_chunk_rows" -> "SELECT graft_chunk_rows('abcdef', 4)",
      "graft_cdc_ends" -> "SELECT graft_cdc_ends('abcdef')",
      "graft_simhash64" -> "SELECT graft_simhash64(array('a', 'b'))",
      "graft_srp_sig" -> "SELECT graft_srp_sig(array(1.0D, -2.0D), 8)",
      "graft_jaro_winkler" -> "SELECT graft_jaro_winkler('martha', 'marhta')",
      "graft_damerau_lev" -> "SELECT graft_damerau_lev('ca', 'abc')",
      "graft_hamming" -> "SELECT graft_hamming('abcd', 'abce')",
      "graft_topk" ->
        "SELECT graft_topk(CAST(id AS DOUBLE), id, 2) FROM range(5)",
      "graft_winnow" -> "SELECT graft_winnow('the quick brown fox jumps', 4, 3)",
      "graft_nfc" -> "SELECT graft_nfc('a\u0301')",
      "graft_strip_accents" -> "SELECT graft_strip_accents('\u00e4b')")
    assert(probes.keySet === GraftFunctions.sqlFunctions.map(_._1).toSet)
    withExtensions { spark =>
      val results = probes.map { case (name, sql) =>
        val rows = spark.sql(sql).collect()
        assert(rows.nonEmpty, s"$name returned no rows")
        name -> rows.head
      }
      assert(results("graft_dot_long").getLong(0) === 11L)
      assert(results("graft_sqdist_long").getLong(0) === 13L)
      assert(results("graft_hamming").getInt(0) === 1)
      assert(results("graft_nfc").getString(0) === "\u00e1")
      assert(results("graft_strip_accents").getString(0) === "ab")
    }
  }
}
