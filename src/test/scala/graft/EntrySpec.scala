package graft

/** Driver-contract smoke: entry has rows; every declared query runs at
  * sf0.001 and yields a non-degenerate schema; every oracle key maps to a
  * real query. */
class EntrySpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  test("README query counters match SparkEntry (drift guard)") {
    // the r11 verdict found README two rounds stale — the counters are
    // now asserted against the code, the same discipline as the twin map
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val m = raw"(\d+)\s+driver\s+queries,\s+(\d+)\s+of\s+them\s+hash-oracled"
      .r.findFirstMatchIn(readme)
    assert(m.isDefined,
      "README.md must state '<N> driver queries, <M> of them hash-oracled'")
    assert(m.get.group(1).toInt === SparkEntry.queries.size,
      s"README query count drifted (code: ${SparkEntry.queries.size})")
    assert(m.get.group(2).toInt === SparkEntry.oracleSql.size,
      s"README oracle count drifted (code: ${SparkEntry.oracleSql.size})")
  }

  test("every rows-only query has a committed hash-oracled twin") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val untwinned = rowsOnly -- SparkEntry.rowsOnlyTwins.keySet
    assert(untwinned.isEmpty,
      s"rows-only queries without a twin in SparkEntry.rowsOnlyTwins: $untwinned")
    val stale = SparkEntry.rowsOnlyTwins.keySet -- rowsOnly
    assert(stale.isEmpty, s"twin-map entries no longer rows-only: $stale")
    val badTwin = SparkEntry.rowsOnlyTwins.values.toSet -- SparkEntry.oracleSql.keySet
    assert(badTwin.isEmpty, s"twins without a hash oracle: $badTwin")
  }

  // Built ONCE and shared by the run-all and schema-audit tests below:
  // query construction is not free (ScaledRank-based queries run eager
  // boundary-stats jobs and persist() RDDs while building), so a second
  // full construction sweep would double that cost and accumulate cached
  // RDDs (ADVICE r8). Each query gets its own new session, whose function
  // registry and temp views start empty, so a query that only resolves
  // after another one ran (the solo-run failure mode) fails here.
  private lazy val built: Seq[(String, org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> fn(spark.newSession(), sf001) }

  test("every query runs at sf0.001 with columns and rows") {
    val empties = Seq("q_jaccard_pairs", "q_cosine_pairs",
      "q_minhash_candidates", "q_join_anti") // legitimately may be empty/small
    built.foreach { case (name, df) =>
      assert(df.columns.nonEmpty, s"$name has no columns")
      val n = df.count()
      if (!empties.contains(name))
        assert(n > 0, s"$name returned 0 rows at sf0.001")
    }
  }

  test("no query output has a top-level Array/Map/Struct column") {
    // the driver's pandas checker lexsorts result frames and cannot hash
    // numpy arrays — a complex top-level column errs the CORRECTNESS gate
    // (the r7 q_pack_boundaries failure). Serialize to a canonical string
    // (concat_ws over array_sort) instead of whitelisting here.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val bad = built.flatMap { case (name, df) =>
      df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(bad.isEmpty, s"driver-unhashable output columns:\n${bad.mkString("\n")}")
    // drop the RDDs persisted during query construction so later suites in
    // the shared session start cache-clean
    spark.catalog.clearCache()
  }

  test("multimodal decode stub roundtrips payload length") {
    val out = graft.ops.Multimodal.decode(spark, sf001).collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      val n = r.getInt(r.fieldIndex("n_bytes"))
      r.getInt(r.fieldIndex("width")) == 64 + n % 512 &&
        r.getInt(r.fieldIndex("n_frames")) == 1 + n % 24
    })
  }
}
