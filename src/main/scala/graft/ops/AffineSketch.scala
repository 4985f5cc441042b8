package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic-hash twins of the hash-based sketch queries — the full
  * oracle promotion the CMS sketch and CDC chunking already received
  * ([[Analytics.cmsFreq]], `functions/CdcChunking.scala`), applied to
  * MinHash+LSH banding, SimHash blocking, winnowing fingerprints, and the
  * KMV cardinality sketch.
  *
  * The production paths (`q_minhash_candidates`, `q_simhash_pairs`,
  * `q_winnow_fingerprints`, `q_kmv_users`) keep their engine-native
  * xxhash64 hashes — the right 100 TB choice — and stay rows-only for the
  * driver, pinned by committed literals in ScalaTest. These twins replace
  * the engine-internal hash with arithmetic BOTH engines compute
  * identically, so the whole pipeline (signatures, buckets, candidate
  * pairs, estimates) hash-matches a DuckDB oracle generated from the same
  * constants:
  *
  *   - base hash: first 7 hex digits of md5 → 28-bit int. Spark
  *     `conv(substring(md5(s),1,7),16,10)` ≡ DuckDB
  *     `('0x'||substr(md5(s),1,7))::BIGINT` (md5 is bit-identical across
  *     engines; 7 hex digits keep every later product inside int64).
  *   - hash family i: h_i(x) = (a_i·x + b_i) mod p with p = 2^31−1 and
  *     committed (a_i, b_i). a_i < 2^31 and x < 2^28 ⇒ a_i·x < 2^59 —
  *     exact in int64 on both engines, no overflow, no float.
  *
  * Plan shapes are the production ones: banded equi self-joins (never an
  * all-pairs cross join), one grouped pass for signatures, window frames
  * for winnowing — so the oracle checks the REAL sub-quadratic pipeline,
  * not a toy. Reference behavior: near-dup detection over the documents
  * table per the MLE goals of /root/reference/README.md:47-52.
  */
object AffineSketch {

  private val P = 2147483647L
  private val nHashes = 32

  /** Knuth multiplicative constants mod p (never 0) — same values are
    * interpolated into the generated oracle SQL below. */
  private[graft] val A: IndexedSeq[Long] =
    (0 until nHashes).map { i =>
      val v = (2654435761L * (i + 1)) % P; if (v == 0L) 1L else v
    }
  private[graft] val B: IndexedSeq[Long] =
    (0 until nHashes).map(i => (40503L * (i + 1) * 65537L) % P)

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "documents")
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "events")

  /** 28-bit md5-prefix base hash — see object doc for the DuckDB twin. */
  private def md5h(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** Shared oracle prefix: per-(doc, word-bigram-shingle) base hashes —
    * the DuckDB mirror of [[shingleHashes]], used by both the MinHash and
    * SimHash twins. */
  private val shingleHashCte: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(words)),
      |                        i -> words[i] || ' ' || words[i+1])) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      |), hh AS (
      |  SELECT doc_id, ('0x'||substr(md5(shingle),1,7))::BIGINT AS h FROM sh
      |)""".stripMargin

  /** Shared oracle suffix: the DuckDB mirror of [[rotatedPrefixPairs]] —
    * rotation banding over a `sig2(idCol, sig)` CTE plus the
    * distinct-pair Hamming select, used by both 32-bit-signature twins. */
  private def rotatedPrefixPairsSql(idCol: String): String = {
    val rots = (0 until simRots).map { r =>
      s"  SELECT $idCol, $r AS rot, ((sig*${1L << (8 * r)})%4294967296 + sig//${1L << (32 - 8 * r)})//16777216 AS prefix, sig FROM sig2"
    }.mkString("\n  UNION ALL\n")
    s"""banded AS (
       |$rots
       |)
       |SELECT DISTINCT a.$idCol AS id1, b.$idCol AS id2,
       |       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM banded a JOIN banded b USING (rot, prefix)
       |WHERE a.$idCol < b.$idCol AND bit_count(xor(a.sig, b.sig)) <= $hammingMax
       |ORDER BY id1, id2""".stripMargin
  }

  /** (doc_id, h) per word-bigram shingle. Shingle text is exactly what the
    * oracle builds with list_transform over string_split: tokens i,i+1
    * joined by one space; consecutive delimiters yield empty tokens in both
    * engines alike. Exploded rows + a map-side-combined groupBy — NOT
    * per-doc array expressions: higher-order lambdas fall out of
    * whole-stage codegen, and a 32-pass array formulation of the MinHash/
    * SimHash signatures measured 3× SLOWER than this codegen'd
    * explode+agg (5.9 s vs 1.9 s at sf0.1) — the opposite trade from
    * [[winnowAffine]], whose single array pass wins by dropping a
    * window-sort shuffle. */
  private def shingleHashes(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(words) < 2 THEN array()
          |ELSE transform(sequence(0, size(words)-2),
          |              i -> concat(words[i], ' ', words[i+1])) END"""
          .stripMargin)).as("shingle"))
      .select(col("doc_id"), md5h(col("shingle")).as("h"))

  // ---------------------------------------------------------------- MinHash

  private val bands = 8
  private val rowsPerBand = 4 // bands * rowsPerBand = nHashes

  /** MinHash + LSH banding with the affine family: 32-min signature in ONE
    * grouped pass (32 agg columns — no 32× row explosion; see
    * [[shingleHashes]] for why this beats an array formulation), 8×4
    * banding on a comma-joined band key, candidate pairs from the banded
    * equi self-join, verified by signature agreement ≥ 0.5. Sub-quadratic
    * exactly like [[TextOps.minhashCandidates]]; every number hash-matches
    * DuckDB. */
  def minhashAffine(s: SparkSession, dir: String): DataFrame =
    minhashCandEst(s, dir)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("id1"), col("id2"), col("est_jaccard"))
      .orderBy(col("id1"), col("id2"))

  /** Sketch-candidates → exact edit-distance verification — the SCALABLE
    * composition for character-level near-dup detection. The block-pair
    * formulation ([[TextOps.editDistancePairs]]) is inherently
    * O(Σ block²): at relative threshold 0.3 no sound signature scheme
    * exists (PassJoin-style pigeonhole segments degenerate — τ+1 ≈
    * 0.3·len segments of ~3 chars each), so its measured 1×→10× growth
    * exponent is super-linear by nature (see BASELINE.md's growth table).
    * This operator instead runs the thresholded DP ONLY over the shared
    * banded MinHash candidate relation ([[minhashCandEst]] — linear
    * growth on independent-shard scale-up), i.e. sketch proposes,
    * DP verifies: the shape a 100 TB near-dup pass actually ships.
    *
    * Semantics: every banded candidate pair (no est_jaccard floor — the
    * raw LSH recall set), exact levenshtein thresholded at
    * floor(0.3·max(len)) (integer dist ≤ floor(0.3·maxlen) ⇔ rel ≤ 0.3,
    * so the −1 early-exit subsumes the relative filter), emitted with
    * both the sketch estimate and the exact distance. The `_pin` barrier
    * is the [[TextOps.editDistancePairs]] trick: it keeps Catalyst from
    * substituting the DP into the join condition + both output columns
    * (3× the DP per pair). */
  def editVerify(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"), col("n_chars"))
    minhashCandEst(s, dir)
      .join(d.select(col("doc_id").as("id1"), col("text").as("t1"),
        col("n_chars").as("len1")), "id1")
      .join(d.select(col("doc_id").as("id2"), col("text").as("t2"),
        col("n_chars").as("len2")), "id2")
      .withColumn("_pin", monotonically_increasing_id())
      .withColumn("edit_dist", expr(
        "levenshtein(t1, t2, cast(floor(greatest(len1, len2) * 0.3) as int))"))
      .filter(col("edit_dist") >= 0 || col("_pin") < 0)
      .withColumn("rel_dist",
        round(col("edit_dist") / greatest(col("len1"), col("len2")), 6))
      .select(col("id1"), col("id2"), col("est_jaccard"), col("edit_dist"),
        col("rel_dist"))
      .orderBy(col("id1"), col("id2"))
  }

  private val candMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The full banded candidate relation with its signature-agreement
    * estimate (id1 < id2, est_jaccard) — the expensive
    * shingle→signature→banding→verify pipeline computed ONCE per
    * (session, dir) and persisted to parquet, then shared by its three
    * consumers: [[minhashAffine]] (est ≥ 0.5 near-dup pairs),
    * [[dedupPr]] (needs BOTH the raw candidate set and the verified set),
    * and [[Curation.clusterSplit]]'s leakage audit. Disk, not
    * `.persist()`: the Verify/Bench harnesses clear the Spark cache
    * between queries, which would silently void an in-memory share — the
    * Tables-memo discipline applied to a derived relation. Deterministic
    * (pure function of the corpus), so every consumer's hash oracle is
    * unaffected by WHICH consumer triggered the write. */
  def minhashCandEst(s: SparkSession, dir: String): DataFrame =
    candMemo.computeIfAbsent((s, dir), _ => {
      val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
      val out = s"${graft.Tables.workDir(s)}/minhash_cand_$safe.parquet"
      val sig = minhashSig(s, dir)
      estJaccard(sig, bandedCand(sig))
        .select(col("id1"), col("id2"), col("est_jaccard"))
        .write.mode("overwrite").parquet(out)
      sig.unpersist()
      s.read.parquet(out)
    })

  /** Persisted 32-column MinHash signature relation (feeds banding and
    * both sides of the verification join). */
  private def minhashSig(s: SparkSession, dir: String): DataFrame = {
    val mins = (0 until nHashes).map(i =>
      min((col("h") * A(i) + B(i)) % P).as(s"m$i"))
    shingleHashes(s, dir)
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*).persist() // released
  }

  /** Distinct banded candidate pairs from an 8×4 LSH banding of the
    * signature relation. */
  private def bandedCand(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(j => col(s"m${rowsPerBand * b + j}")): _*)
          .as("bkey"))
    }
    val banded = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    banded.select(col("band"), col("bkey"), col("doc_id").as("id1"))
      .join(banded.select(col("band"), col("bkey"), col("doc_id").as("id2")),
        Seq("band", "bkey"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** Signature-agreement Jaccard estimate for each candidate pair. */
  private def estJaccard(sig: DataFrame, cand: DataFrame): DataFrame = {
    val s1 = sig.select(col("doc_id").as("id1") +:
      (0 until nHashes).map(i => col(s"m$i").as(s"x$i")): _*)
    val s2 = sig.select(col("doc_id").as("id2") +:
      (0 until nHashes).map(i => col(s"m$i").as(s"y$i")): _*)
    val agree = (0 until nHashes)
      .map(i => (col(s"x$i") === col(s"y$i")).cast("int")).reduce(_ + _)
    cand.join(s1, "id1").join(s2, "id2")
      .withColumn("est_jaccard", round(agree / 32.0, 6))
  }

  /** The 8×4 affine LSH banding as a plain (doc_id, band, bkey) bucket
    * relation — the input `q_stream_neardup` replays through stateful
    * streaming dedup. Recomputed per call (no persist: the one consumer
    * materializes it straight to its replay parquet), same constants and
    * shapes as [[minhashSig]]/[[bandedCand]], so the streaming query's
    * oracle shares [[bandedKeysOracleCtes]] with the batch twins. */
  private[graft] def bandedKeys(s: SparkSession, dir: String): DataFrame = {
    val mins = (0 until nHashes).map(i =>
      min((col("h") * A(i) + B(i)) % P).as(s"m$i"))
    val sig = shingleHashes(s, dir)
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(j => col(s"m${rowsPerBand * b + j}")): _*)
          .as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").cast("int").as("band"),
        col("bb.bkey").as("bkey"))
  }

  /** DuckDB mirror of [[bandedKeys]]: shingle hashes → signature →
    * banded buckets, ending at a `banded(doc_id, band, bkey)` CTE. */
  private[graft] def bandedKeysOracleCtes: String = {
    val mins = (0 until nHashes)
      .map(i => s"min((h*${A(i)}+${B(i)})%$P) AS m$i").mkString(",\n    ")
    val banded = (0 until bands).map { b =>
      val key = (0 until rowsPerBand).map(j => s"m${rowsPerBand * b + j}").mkString("||','||")
      s"  SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""$shingleHashCte, sig AS (
       |  SELECT doc_id, $mins
       |  FROM hh GROUP BY doc_id
       |), banded AS (
       |$banded
       |)""".stripMargin
  }

  /** Shared oracle midsection: signature, banding, candidate, and
    * estimate CTEs (everything after [[shingleHashCte]]) — used by the
    * MinHash twin and the dedup-PR evaluation. */
  private def minhashCandCtes: String = {
    val mins = (0 until nHashes)
      .map(i => s"min((h*${A(i)}+${B(i)})%$P) AS m$i").mkString(",\n    ")
    val banded = (0 until bands).map { b =>
      val key = (0 until rowsPerBand).map(j => s"m${rowsPerBand * b + j}").mkString("||','||")
      s"  SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n")
    val agree = (0 until nHashes).map(i => s"(s1.m$i=s2.m$i)::INT").mkString(" + ")
    s"""sig AS (
       |  SELECT doc_id, $mins
       |  FROM hh GROUP BY doc_id
       |), banded AS (
       |$banded
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM banded a JOIN banded b USING (band, bkey)
       |  WHERE a.doc_id < b.doc_id
       |), est AS (
       |  SELECT id1, id2, round(($agree)/32.0, 6) AS est_jaccard
       |  FROM cand JOIN sig s1 ON cand.id1 = s1.doc_id
       |            JOIN sig s2 ON cand.id2 = s2.doc_id
       |)""".stripMargin
  }

  private def minhashAffineOracle: String =
    s"""$shingleHashCte, $minhashCandCtes
       |SELECT id1, id2, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5
       |ORDER BY id1, id2""".stripMargin

  private def editVerifyOracle: String =
    s"""$shingleHashCte, $minhashCandCtes
       |SELECT e.id1, e.id2, e.est_jaccard,
       |  CAST(levenshtein(d1.text, d2.text) AS INTEGER) AS edit_dist,
       |  round(levenshtein(d1.text, d2.text) * 1.0
       |        / greatest(d1.n_chars, d2.n_chars), 6) AS rel_dist
       |FROM est e JOIN documents d1 ON e.id1 = d1.doc_id
       |           JOIN documents d2 ON e.id2 = d2.doc_id
       |WHERE levenshtein(d1.text, d2.text) * 1.0
       |      / greatest(d1.n_chars, d2.n_chars) <= 0.3
       |ORDER BY id1, id2""".stripMargin

  /** End-to-end dedup quality evaluation — the funnel audit a pipeline
    * owner reads before trusting a sketch-based dedup pass: ground truth
    * = EXACT shingle-set Jaccard ≥ 0.5 pairs (computed corpus-wide from
    * the same shingle relation), measured against (a) the raw LSH banded
    * candidate set (recall of the banding) and (b) the post-verification
    * predicted set (precision lift of the signature-agreement check).
    * Both stages' precision/recall hash-match DuckDB, so the evaluation
    * itself — not just the sketch — is oracle-grade.
    *
    * Scale shape: truth pairs come from a PREFIX-FILTERED exact join
    * (rare-shingle keys only — see the inline note; the naive Σ df²
    * self-join is what the sketch exists to avoid, and the oracle still
    * runs it, proving prune ≡ definition every run); the confusion
    * joins are candidate-set-sized; all metrics collapse through 1-row
    * aggregates. At 100 TB run the truth leg on an audit sample — the
    * metric algebra is unchanged. */
  def dedupPr(s: SparkSession, dir: String): DataFrame = {
    val candEst = minhashCandEst(s, dir)
    val candRaw = candEst.select(col("id1"), col("id2"))
    val predRaw = candEst.filter(col("est_jaccard") >= 0.5)
      .select(col("id1"), col("id2"))
    // Evaluation universe = same-(lang, source) pairs, the
    // q_jaccard_pairs blocking convention: a dedup pipeline's contract is
    // within-metadata-block, and on this 31-word vocabulary EVERY word
    // bigram is a corpus-wide hub (≤ 961 distinct shingles), so the
    // unblocked exact-truth self-join is Σ df² ≈ 94M rows at sf0.1
    // (22.7 s measured — and prefix filtering cannot prune a degenerate
    // shingle space: tried, 61 s). Block keys in the JOIN key cut it to
    // Σ_block df_b² ≈ 3.5M. Sketch pairs are filtered to the same
    // universe so precision/recall compare like with like.
    val meta = docs(s, dir).select(col("doc_id"), col("lang"), col("source"))
    val ex = shingleHashes(s, dir).distinct().join(meta, "doc_id").persist() // q-cache
    val sz = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val truth = ex.select(col("doc_id").as("id1"), col("h"), col("lang"),
        col("source"))
      .join(ex.select(col("doc_id").as("id2"), col("h"), col("lang"),
        col("source")), Seq("h", "lang", "source"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sz.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .filter(round(col("i").cast("double")
        / (col("n1") + col("n2") - col("i")), 6) >= 0.5)
      .select(col("id1"), col("id2")).persist() // q-cache
    val m1 = meta.select(col("doc_id").as("id1"), col("lang").as("l1"),
      col("source").as("s1"))
    val m2 = meta.select(col("doc_id").as("id2"), col("lang").as("l2"),
      col("source").as("s2"))
    def inBlock(df: DataFrame): DataFrame =
      df.join(broadcast(m1), "id1").join(broadcast(m2), "id2")
        .filter(col("l1") === col("l2") && col("s1") === col("s2"))
        .select(col("id1"), col("id2"))
    val cand = inBlock(candRaw).persist() // q-cache
    val pred = inBlock(predRaw).persist() // q-cache
    cand.agg(count(lit(1)).as("n_cand"))
      .crossJoin(pred.agg(count(lit(1)).as("n_pred")))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(cand.join(truth, Seq("id1", "id2"))
        .agg(count(lit(1)).as("tp_cand")))
      .crossJoin(pred.join(truth, Seq("id1", "id2"))
        .agg(count(lit(1)).as("tp_pred")))
      .select(col("n_cand"), col("n_pred"), col("n_truth"),
        col("tp_cand"), col("tp_pred"),
        round(col("tp_cand").cast("double") / col("n_cand"), 6).as("prec_cand"),
        round(col("tp_cand").cast("double") / col("n_truth"), 6).as("recall_cand"),
        round(col("tp_pred").cast("double") / col("n_pred"), 6).as("prec_pred"),
        round(col("tp_pred").cast("double") / col("n_truth"), 6).as("recall_pred"))
  }

  private def dedupPrOracle: String =
    s"""$shingleHashCte, $minhashCandCtes,
       |meta AS (SELECT doc_id, lang, source FROM documents),
       |predb AS (
       |  SELECT id1, id2 FROM est
       |  JOIN meta m1 ON est.id1 = m1.doc_id
       |  JOIN meta m2 ON est.id2 = m2.doc_id
       |  WHERE est_jaccard >= 0.5
       |    AND m1.lang = m2.lang AND m1.source = m2.source),
       |candb AS (
       |  SELECT id1, id2 FROM cand
       |  JOIN meta m1 ON cand.id1 = m1.doc_id
       |  JOIN meta m2 ON cand.id2 = m2.doc_id
       |  WHERE m1.lang = m2.lang AND m1.source = m2.source),
       |exd AS (
       |  SELECT DISTINCT hh.doc_id, h, lang, source
       |  FROM hh JOIN meta ON hh.doc_id = meta.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM exd GROUP BY 1),
       |truth AS (
       |  SELECT id1, id2 FROM (
       |    SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |    FROM exd a JOIN exd b ON a.h = b.h AND a.lang = b.lang
       |      AND a.source = b.source AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2) iv
       |  JOIN sz s1 ON iv.id1 = s1.doc_id JOIN sz s2 ON iv.id2 = s2.doc_id
       |  WHERE round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) >= 0.5),
       |m AS (
       |  SELECT
       |    (SELECT count(*) FROM candb) AS n_cand,
       |    (SELECT count(*) FROM predb) AS n_pred,
       |    (SELECT count(*) FROM truth) AS n_truth,
       |    (SELECT count(*) FROM candb JOIN truth USING (id1, id2)) AS tp_cand,
       |    (SELECT count(*) FROM predb JOIN truth USING (id1, id2)) AS tp_pred)
       |SELECT n_cand, n_pred, n_truth, tp_cand, tp_pred,
       |  round(CAST(tp_cand AS DOUBLE) / n_cand, 6) AS prec_cand,
       |  round(CAST(tp_cand AS DOUBLE) / n_truth, 6) AS recall_cand,
       |  round(CAST(tp_pred AS DOUBLE) / n_pred, 6) AS prec_pred,
       |  round(CAST(tp_pred AS DOUBLE) / n_truth, 6) AS recall_pred
       |FROM m""".stripMargin

  // ---------------------------------------------------------------- SimHash

  private val simRots = 4
  private val hammingMax = 6

  /** Shared blocking for the 32-bit signature twins ([[simhashAffine]],
    * [[srpAffine]]): 4 circular rotations × top-8-bit prefixes as band
    * keys, banded equi self-join, Hamming ≤ [[hammingMax]] via
    * bit_count(xor). Rotation is ·,%,div arithmetic on BIGINT — identical
    * semantics in the DuckDB twin, no engine shift quirks. */
  private def rotatedPrefixPairs(sig: DataFrame, idCol: String): DataFrame = {
    val rotStructs = (0 until simRots).map { r =>
      struct(lit(r).as("rot"), expr(
        s"((sig * ${1L << (8 * r)}) % 4294967296 + sig div ${1L << (32 - 8 * r)}) div 16777216")
        .as("prefix"))
    }
    val banded = sig
      .select(col(idCol), col("sig"), explode(array(rotStructs: _*)).as("rp"))
      .select(col(idCol), col("sig"), col("rp.rot").as("rot"), col("rp.prefix").as("prefix"))
    val a = banded.select(col("rot"), col("prefix"),
      col(idCol).as("id1"), col("sig").as("sig1"))
    val b = banded.select(col("rot"), col("prefix"),
      col(idCol).as("id2"), col("sig").as("sig2"))
    a.join(b, Seq("rot", "prefix"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(expr("sig1 ^ sig2")).cast("int").as("hamming"))
      .filter(col("hamming") <= hammingMax)
      .distinct()
      .orderBy(col("id1"), col("id2"))
  }

  /** 32-bit SimHash with one affine hash per bit: bit_j(shingle) =
    * ((a_j·h+b_j) mod p) mod 2, per-doc counter c_j = Σ (2·bit_j − 1),
    * sig = Σ (c_j>0)·2^j. Blocking is the rotated-prefix shape of
    * [[TextOps.simhashPairs]] (Manku WWW'07) with 4 rotations × 8-bit
    * prefixes, done in pure +,·,%,div arithmetic so both engines agree
    * bit-for-bit; pairs kept at Hamming ≤ 6 via bit_count(xor). */
  def simhashAffine(s: SparkSession, dir: String): DataFrame = {
    val sums = (0 until nHashes).map(j =>
      sum(lit(2) * (((col("h") * A(j) + B(j)) % P) % 2) - 1).as(s"s$j"))
    val sig = shingleHashes(s, dir)
      .groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until nHashes).map(j => (col(s"s$j") > 0).cast("long") * (1L << j))
          .reduce(_ + _).as("sig"))
      .persist() // q-cache
    rotatedPrefixPairs(sig, "doc_id")
  }

  private def simhashAffineOracle: String = {
    val sums = (0 until nHashes)
      .map(j => s"sum(2*(((h*${A(j)}+${B(j)})%$P)%2)-1) AS s$j").mkString(",\n    ")
    val sigExpr = (0 until nHashes).map(j => s"(s$j>0)::BIGINT*${1L << j}").mkString(" + ")
    s"""$shingleHashCte, sums AS (
       |  SELECT doc_id, $sums FROM hh GROUP BY doc_id
       |), sig2 AS (
       |  SELECT doc_id, $sigExpr AS sig FROM sums
       |), ${rotatedPrefixPairsSql("doc_id")}""".stripMargin
  }

  // ----------------------------------------------------- SRP over embeddings

  /** Sign-random-projection LSH over the embeddings table, made exactly
    * reproducible: each float32 coordinate is quantized to
    * q_d = floor(x·2^20) (float→double is exact, ·2^20 is exact, floor has
    * no rounding-tie ambiguity — unlike round), and plane l's "random"
    * ±1 component at dim d is the affine-hash parity
    * 2·(((a_l·d + b_l) mod p) mod 2) − 1. The projection Σ_d s_{l,d}·q_d is
    * then pure int64 arithmetic (|q|<2^21, 64 dims ⇒ |Σ|<2^27), so the
    * 32-bit signature, the rotated-prefix buckets, the candidate pairs,
    * and the Hamming distances ALL hash-match DuckDB — the full-oracle
    * promotion of the [[VectorOps]] SRP-ANN machinery. Same sub-quadratic
    * banded plan as production: no all-pairs join, no corpus broadcast. */
  /** 32-bit affine-SRP signature relation (vec_id, sig) — shared by
    * [[srpAffine]]'s rotation banding and [[cosineLshAffine]]'s
    * band/bucket blocking. */
  private def srpSig(s: SparkSession, dir: String): DataFrame = {
    // (r14-opt: widening the scan was tried and measured net-negative
    // across the three srpSig consumers — the 32-sum partial agg is small
    // at 2k vectors and the extra exchange outweighed it; reverted)
    val emb = graft.Tables(s, dir, "embeddings")
    val q = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).as("d"),
        floor(col("x").cast("double") * 1048576).cast("long").as("q"))
    val sums = (0 until nHashes).map(l =>
      sum(col("q") * (lit(2) * (((col("d") * A(l) + B(l)) % P) % 2) - 1)).as(s"s$l"))
    q.groupBy(col("vec_id")).agg(sums.head, sums.tail: _*)
      .select(col("vec_id"),
        (0 until nHashes).map(l => (col(s"s$l") > 0).cast("long") * (1L << l))
          .reduce(_ + _).as("sig"))
  }

  def srpAffine(s: SparkSession, dir: String): DataFrame =
    rotatedPrefixPairs(srpSig(s, dir).persist(), "vec_id") // q-cache

  /** Shared oracle prefix for the SRP twins: quantized coords → 32 affine
    * projections → 32-bit signature as `sig2(vec_id, sig)`. */
  private def srpSigCtes: String = {
    val sums = (0 until nHashes)
      .map(l => s"sum(q*(2*(((d*${A(l)}+${B(l)})%$P)%2)-1)) AS s$l").mkString(",\n    ")
    val sigExpr = (0 until nHashes).map(l => s"(s$l>0)::BIGINT*${1L << l}").mkString(" + ")
    s"""WITH q AS (
       |  SELECT vec_id, d, floor(CAST(embedding[d] AS DOUBLE)*1048576)::BIGINT AS q
       |  FROM embeddings, (SELECT unnest(generate_series(1,64)) AS d)
       |), sums AS (
       |  SELECT vec_id, $sums FROM q GROUP BY vec_id
       |), sig2 AS (
       |  SELECT vec_id, $sigExpr AS sig FROM sums
       |)""".stripMargin
  }

  private def srpAffineOracle: String =
    s"""$srpSigCtes, ${rotatedPrefixPairsSql("vec_id")}"""

  // -------------------------------------------------------------- Winnowing

  private val winK = 8 // char k-gram width
  private val winW = 4 // window width in grams

  /** Winnowing (Schleimer–Wilkerson–Aiken '03) with the md5-prefix hash:
    * per char-8-gram position p, combined key k_p = (2^28 − h_p)·2^24 + p —
    * max(k) over window [p, p+3] is exactly "minimal hash, rightmost on
    * ties", the winnowing selection rule. Winnowing is doc-LOCAL, so the
    * whole selection runs as higher-order array expressions inside one
    * narrow projection — no explode, no window sort, no shuffle at all
    * (an earlier explode + window-frame formulation of the identical
    * semantics measured 2.8 s at sf0.1; this is ~10×, same output, same
    * DuckDB twin). Count and checksum are recoverable from k alone
    * (h = 2^28 − (k >> 24)). The filter keeps docs with ≥ winW full
    * windows (length ≥ k+w−1), matching the twin's full-window mask. */
  def winnowAffine(s: SparkSession, dir: String): DataFrame =
    winnowSel(s, dir)
      .select(col("doc_id"),
        size(col("sel")).cast("long").as("n_fingerprints"),
        aggregate(col("sel"), lit(0L),
          (acc, k) => acc + lit(268435456L) - shiftright(k, 24)).as("fp_checksum"))
      .orderBy(col("doc_id"))

  /** (doc_id, sel: distinct selected combined keys) — the winnowing
    * selection shared by [[winnowAffine]] and [[winnowPairs]]. */
  private def winnowSel(s: SparkSession, dir: String): DataFrame =
    // widened (guide §2.6): the per-position md5 transform below is the
    // whole cost and ran serial on the 1-partition fixture scan
    graft.Tables.widen(docs(s, dir).filter(length(col("text")) >= winK + winW - 1))
      .withColumn("kks", transform(
        sequence(lit(1), length(col("text")) - (winK - 1)),
        p => (lit(268435456L) - md5h(substr(col("text"), p, lit(winK)))) *
          16777216L + p))
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(col("kks")) - (winW - 1)),
        t => array_max(slice(col("kks"), t, lit(winW))))).as("sel"))

  private val winnowDfCap = 8  // drop fingerprints shared by > 8 docs
  private val winnowMinShared = 3

  /** MOSS-style near-dup PAIR detection from the winnowing fingerprints
    * (Schleimer–Wilkerson–Aiken '03 §5): strip positions to get each doc's
    * distinct selected HASH VALUES (content-addressed — shared substrings
    * ⇒ shared values), df-cap them (a fingerprint appearing in > 8 docs is
    * boilerplate, and the cap bounds every inverted-index bucket — each
    * hash contributes ≤ C(8,2) = 28 pairs, so the self-join is hub-proof
    * at any corpus size), then count shared fingerprints per pair through
    * the inverted-index equi join. Pairs with ≥ 3 shared fingerprints
    * surface; the whole pipeline is the same affine arithmetic as
    * [[winnowAffine]] and hash-matches its generated DuckDB twin. */
  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    // persisted: feeds the df-cap aggregation and both join sides
    val fp = winnowSel(s, dir)
      .select(col("doc_id"), explode(array_distinct(transform(col("sel"),
        k => lit(268435456L) - shiftright(k, 24)))).as("h"))
      .persist() // q-cache
    fp.count() // eager: 3 sibling-stage consumers (see Tables.pinned)
    val rareKeys = fp.groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") <= winnowDfCap).select(col("h"))
    val rare = fp.join(rareKeys, "h")
    rare.select(col("h"), col("doc_id").as("id1"))
      .join(rare.select(col("h"), col("doc_id").as("id2")), "h")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= winnowMinShared)
      .orderBy(col("id1"), col("id2"))
  }

  /** Shared oracle prefix for the winnowing twins: grams → combined keys →
    * full-window maxima → distinct selected keys per doc. */
  private def winnowSelCte: String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest(generate_series(1, length(text)-${winK - 1})) AS p, text
       |  FROM documents WHERE length(text) >= $winK
       |), k AS (
       |  SELECT doc_id, p,
       |    (268435456 - ('0x'||substr(md5(substr(text, p, $winK)),1,7))::BIGINT)*16777216 + p AS kk
       |  FROM g
       |), w AS (
       |  SELECT doc_id,
       |    max(kk) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND ${winW - 1} FOLLOWING) AS selk,
       |    count(*) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND ${winW - 1} FOLLOWING) AS cnt
       |  FROM k
       |), sel AS (
       |  SELECT DISTINCT doc_id, selk FROM w WHERE cnt = $winW
       |)""".stripMargin

  private def winnowAffineOracle: String =
    s"""$winnowSelCte
       |SELECT doc_id, count(*) AS n_fingerprints,
       |       CAST(sum(268435456 - selk//16777216) AS BIGINT) AS fp_checksum
       |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def winnowPairsOracle: String =
    s"""$winnowSelCte, fp AS (
       |  SELECT DISTINCT doc_id, 268435456 - selk//16777216 AS h FROM sel
       |), df AS (
       |  SELECT h, count(*) AS ndocs FROM fp GROUP BY h
       |), rare AS (
       |  SELECT fp.doc_id, fp.h FROM fp JOIN df USING (h) WHERE df.ndocs <= $winnowDfCap
       |)
       |SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
       |FROM rare a JOIN rare b USING (h)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= $winnowMinShared
       |ORDER BY id1, id2""".stripMargin

  // -------------------------------------------------------------------- KMV

  private val kmvK = 64

  /** KMV (k-minimum-values, Bar-Yossef et al.) distinct-count with the
    * affine hash on event_id: per scope (each event_type plus an 'all'
    * union) the 64th-smallest distinct hash value gives est =
    * (k−1)·p / h_(k). Fully deterministic ⇒ the estimate itself — not just
    * its error bound — hash-matches DuckDB. The per-scope rank is a window
    * here (post-distinct input, bounded scopes); at 100 TB the k-smallest
    * per group comes from the bounded-heap `TopKAgg`
    * TypedImperativeAggregate (map-side combined, no per-scope sort). */
  def kmvAffine(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("event_id"))
    val scoped = ev.select(col("event_type").as("scope"), col("event_id"))
      .union(ev.select(lit("all").as("scope"), col("event_id")))
    val exact = scoped.groupBy(col("scope"))
      .agg(countDistinct(col("event_id")).as("exact_n"))
    val hh = scoped
      .select(col("scope"), ((col("event_id") * A(0) + B(0)) % P).as("h"))
      .distinct()
    val sel = hh
      .withColumn("rn", row_number().over(Window.partitionBy(col("scope")).orderBy(col("h"))))
      .filter(col("rn") === kmvK)
      .select(col("scope"), col("h"))
    val est = when(col("h").isNull, col("exact_n").cast("double"))
      .otherwise(lit((kmvK - 1).toDouble) * P / col("h"))
    exact.join(sel, Seq("scope"), "left")
      .select(col("scope"), col("exact_n"),
        round(est, 1).as("kmv_est"),
        round(abs(est - col("exact_n")) / col("exact_n"), 4).as("rel_err"))
      .orderBy(col("scope"))
  }

  private def kmvAffineOracle: String = {
    val est = s"CASE WHEN s.h IS NULL THEN CAST(e.exact_n AS DOUBLE) ELSE ${(kmvK - 1).toDouble}*$P/s.h END"
    s"""WITH scoped AS (
       |  SELECT event_type AS scope, event_id FROM events
       |  UNION ALL
       |  SELECT 'all' AS scope, event_id FROM events
       |), exact AS (
       |  SELECT scope, count(DISTINCT event_id) AS exact_n FROM scoped GROUP BY 1
       |), hh AS (
       |  SELECT DISTINCT scope, (event_id*${A(0)}+${B(0)})%$P AS h FROM scoped
       |), rnk AS (
       |  SELECT scope, h, row_number() OVER (PARTITION BY scope ORDER BY h) AS rn FROM hh
       |), sel AS (SELECT scope, h FROM rnk WHERE rn = $kmvK)
       |SELECT e.scope, e.exact_n,
       |  round($est, 1) AS kmv_est,
       |  round(abs($est - e.exact_n)/e.exact_n, 4) AS rel_err
       |FROM exact e LEFT JOIN sel s USING (scope)
       |ORDER BY scope""".stripMargin
  }

  // -------------------------------------------------------------------- HLL

  private val hllM = 256         // 2^8 registers → ~6.5% standard error
  private val hllVBits = 20      // h < 2^28 (md5 prefix), h div 256 < 2^20
  /** α₂₅₆·m² = 0.7213/(1+1.079/256)·256² (Flajolet et al. '07 Fig. 3) —
    * kept as ONE decimal literal interpolated into both engines, so both
    * parse the identical double (computing it at runtime could differ
    * from the literal in the last ulp). */
  private val hllAlphaMM = "47072.71267120224"

  /** HyperLogLog (Flajolet–Fuchs–Gandouet–Meunier '07) with the affine
    * hash — the deterministic twin of `q_approx_distinct`'s HLL++: the
    * ESTIMATE itself hash-matches DuckDB, not just an error bound. Per
    * scope (each event_type + 'all'), h = md5-prefix(event_id) — NOT the
    * affine family: on sequential ids (a·x+b) mod p is an arithmetic
    * progression whose tail bits are far from uniform, and the register
    * maxima it feeds mis-estimated 'all' by 8σ; md5 mixes — split into an
    * 8-bit register index (h mod 256) and a 20-bit tail v (h div 256);
    * rho = leading-zeros(v)+1 = 21 − bitlength(v) via `bin()` string
    * length, identical in both engines (v = 0 ⇒ rho = 21). Registers are
    * max(rho) per bucket; Z = Σ 2^−M_j with absent registers contributing
    * 2^0 = 1. Every 2^−M is an exact dyadic double (1.0/shiftleft), the
    * ≤ 256-term sum is exact in 53-bit mantissa (256·2^24 < 2^53), and the final divide is
    * correctly rounded — so est_raw is bit-identical across engines.
    * Small-range (linear-counting) correction applies below 2.5·m when
    * empty registers exist; the large-range correction is omitted (it
    * starts at 2^28/30 ≈ 8.9M — the 28-bit twin is for oracle-provable
    * correctness at test scale; the production `approx_count_distinct`
    * path uses 64-bit HLL++ and has no such ceiling). Map-side-combinable
    * shuffle of O(scopes·256) registers — the 100 TB shape; the production
    * path stays `approx_count_distinct` (engine-native HLL++). */
  def hllAffine(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("event_id"))
    val scoped = ev.select(col("event_type").as("scope"), col("event_id"))
      .union(ev.select(lit("all").as("scope"), col("event_id")))
    val exact = scoped.groupBy(col("scope"))
      .agg(countDistinct(col("event_id")).as("exact_n"))
    val regs = scoped
      .select(col("scope"), md5h(col("event_id").cast("string")).as("h"))
      .select(col("scope"), (col("h") % hllM).as("bucket"),
        expr(s"h div $hllM").as("v"))
      .select(col("scope"), col("bucket"),
        when(col("v") === 0L, lit(hllVBits + 1))
          .otherwise(lit(hllVBits + 1) - length(bin(col("v")))).as("rho"))
      .groupBy(col("scope"), col("bucket")).agg(max(col("rho")).as("m"))
    val hll = regs.groupBy(col("scope")).agg(
      sum(lit(1.0) / expr("shiftleft(1L, m)")).as("z_present"),
      count(lit(1)).as("n_present"))
    val z = col("z_present") + (lit(hllM) - col("n_present")).cast("double")
    val zeros = lit(hllM) - col("n_present")
    val estRaw = expr(hllAlphaMM) / z
    val est = when(estRaw <= 2.5 * hllM && zeros > 0,
      lit(hllM.toDouble) * log(lit(hllM.toDouble) / zeros.cast("double")))
      .otherwise(estRaw)
    exact.join(hll, "scope")
      .select(col("scope"), col("exact_n"),
        round(est, 1).as("hll_est"),
        round(abs(est - col("exact_n")) / col("exact_n"), 4).as("rel_err"))
      .orderBy(col("scope"))
  }

  private def hllAffineOracle: String = {
    val rb = hllVBits + 1
    s"""WITH scoped AS (
       |  SELECT event_type AS scope, event_id FROM events
       |  UNION ALL
       |  SELECT 'all' AS scope, event_id FROM events
       |), exact AS (
       |  SELECT scope, count(DISTINCT event_id) AS exact_n FROM scoped GROUP BY 1
       |), hv AS (
       |  SELECT scope, h % $hllM AS bucket, h // $hllM AS v
       |  FROM (SELECT scope,
       |          ('0x'||substr(md5(event_id::VARCHAR),1,7))::BIGINT AS h
       |        FROM scoped)
       |), regs AS (
       |  SELECT scope, bucket,
       |    max(CASE WHEN v = 0 THEN $rb ELSE $rb - length(bin(v)) END) AS m
       |  FROM hv GROUP BY scope, bucket
       |), hll AS (
       |  SELECT scope, sum(1.0::DOUBLE/(1::BIGINT << m)) AS z_present, count(*) AS n_present
       |  FROM regs GROUP BY scope
       |), est AS (
       |  SELECT scope,
       |    CASE WHEN $hllAlphaMM/(z_present + ($hllM - n_present)) <= ${2.5 * hllM}
       |              AND $hllM - n_present > 0
       |         THEN ${hllM.toDouble} * ln(${hllM.toDouble}/($hllM - n_present))
       |         ELSE $hllAlphaMM/(z_present + ($hllM - n_present)) END AS e
       |  FROM hll
       |)
       |SELECT x.scope, x.exact_n, round(est.e, 1) AS hll_est,
       |       round(abs(est.e - x.exact_n)/x.exact_n, 4) AS rel_err
       |FROM exact x JOIN est USING (scope)
       |ORDER BY scope""".stripMargin
  }

  /** KMV set algebra (Beyer et al. SIGMOD '07): two activity sets — the
    * distinct (user, day) grains with a click vs with a purchase — each
    * sketched by its k=64 minimum affine-hash values; the union sketch is
    * the k smallest of S_A ∪ S_B, |A∪B| ≈ (k−1)·p/h_(k), Jaccard ≈ the
    * fraction of union-sketch members present in BOTH per-set sketches,
    * and |A∩B| ≈ J·|A∪B|. This is the estimator that answers
    * intersection/overlap questions from per-partition sketches WITHOUT
    * rescanning either side — the set-operation complement to
    * [[hllMerge]]'s union-only merge. Exact values computed alongside;
    * everything deterministic ⇒ estimates hash-match DuckDB. Grain ids
    * stay < 2^28 so the affine product is exact in int64. */
  def kmvIntersect(s: SparkSession, dir: String): DataFrame = {
    val k = kmvK
    val grains = events(s, dir).select(col("event_type"),
      (col("user_id") * 100000 + expr("unix_micros(ts) div 86400000000"))
        .as("g"))
    def setOf(t: String, sid: String) =
      grains.where(col("event_type") === t)
        .select(lit(sid).as("sid"), col("g")).distinct()
    val sets = setOf("click", "A").union(setOf("purchase", "B"))
    val exact = sets.groupBy(col("g"))
      .agg(count(lit(1)).as("nsets"))
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("nsets") === 2, 1L).otherwise(0L)).as("exact_inter"))
    val kmin = sets
      .select(col("sid"), ((col("g") * A(0) + B(0)) % P).as("h"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("sid")).orderBy(col("h"))))
      .where(col("rn") <= k).select(col("sid"), col("h"))
    val unionK = kmin.select(col("h")).distinct().orderBy(col("h")).limit(k)
    val inBoth = unionK
      .join(kmin.where(col("sid") === "A").select(col("h")), Seq("h"), "left_semi")
      .join(kmin.where(col("sid") === "B").select(col("h")), Seq("h"), "left_semi")
      .agg(count(lit(1)).as("k_inter"))
    val uStats = unionK.agg(max(col("h")).as("hk"), count(lit(1)).as("ku"))
    val estUnion = when(col("ku") < k, col("ku").cast("double"))
      .otherwise(lit((k - 1).toDouble) * P / col("hk"))
    val jEst = col("k_inter").cast("double") / col("ku")
    exact.crossJoin(uStats).crossJoin(inBoth)
      .select(col("exact_union"), col("exact_inter"),
        round(estUnion, 1).as("est_union"),
        round(jEst * estUnion, 1).as("est_inter"),
        round(col("exact_inter").cast("double") / col("exact_union"), 6)
          .as("jaccard_exact"),
        round(jEst, 6).as("jaccard_est"))
  }

  private def kmvIntersectOracle: String = {
    val k = kmvK
    s"""WITH grains AS (
       |  SELECT event_type,
       |    user_id*100000 + epoch_us(ts) // 86400000000 AS g
       |  FROM events
       |), sets AS (
       |  SELECT DISTINCT 'A' AS sid, g FROM grains WHERE event_type = 'click'
       |  UNION ALL
       |  SELECT DISTINCT 'B' AS sid, g FROM grains WHERE event_type = 'purchase'
       |), exact AS (
       |  SELECT CAST(count(*) AS BIGINT) AS exact_union,
       |    CAST(sum(CASE WHEN nsets = 2 THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter
       |  FROM (SELECT g, count(*) AS nsets FROM sets GROUP BY g)
       |), kmin AS (
       |  SELECT sid, h FROM (
       |    SELECT sid, (g*${A(0)}+${B(0)})%$P AS h,
       |      row_number() OVER (PARTITION BY sid ORDER BY (g*${A(0)}+${B(0)})%$P) AS rn
       |    FROM sets) WHERE rn <= $k
       |), unionk AS (
       |  SELECT DISTINCT h FROM kmin ORDER BY h LIMIT $k
       |), ustats AS (
       |  SELECT max(h) AS hk, count(*) AS ku FROM unionk
       |), inboth AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k_inter FROM unionk u
       |  WHERE EXISTS (SELECT 1 FROM kmin a WHERE a.sid = 'A' AND a.h = u.h)
       |    AND EXISTS (SELECT 1 FROM kmin b WHERE b.sid = 'B' AND b.h = u.h)
       |)
       |SELECT e.exact_union, e.exact_inter,
       |  round(CASE WHEN s.ku < $k THEN CAST(s.ku AS DOUBLE)
       |    ELSE ${(k - 1).toDouble}*$P/s.hk END, 1) AS est_union,
       |  round((CAST(i.k_inter AS DOUBLE)/s.ku)
       |    * CASE WHEN s.ku < $k THEN CAST(s.ku AS DOUBLE)
       |      ELSE ${(k - 1).toDouble}*$P/s.hk END, 1) AS est_inter,
       |  round(CAST(e.exact_inter AS DOUBLE)/e.exact_union, 6) AS jaccard_exact,
       |  round(CAST(i.k_inter AS DOUBLE)/s.ku, 6) AS jaccard_est
       |FROM exact e, ustats s, inboth i""".stripMargin
  }

  /** Sketch MERGEABILITY, proven end-to-end: HLL registers computed per
    * epoch-week (`epoch_µs div 604800000000` — exact integers, no
    * calendar-week engine differences) and max-merged per bucket MUST
    * equal the registers computed over the whole period, because register
    * max is associative — the property that lets 100 TB pipelines
    * pre-aggregate sketches per partition/day and re-aggregate to any
    * coarser grain without rescanning. Both the merged and the direct
    * estimate are emitted and hash-matched; `merge_exact` is proven true
    * by BOTH engines, not asserted. */
  def hllMerge(s: SparkSession, dir: String): DataFrame = {
    val rb = hllVBits + 1
    val base = events(s, dir)
      .select(col("event_type").as("scope"),
        expr("unix_micros(ts) div 604800000000").as("wk"),
        md5h(col("event_id").cast("string")).as("h"))
      .select(col("scope"), col("wk"), (col("h") % hllM).as("bucket"),
        expr(s"h div $hllM").as("v"))
      .select(col("scope"), col("wk"), col("bucket"),
        when(col("v") === 0L, lit(rb))
          .otherwise(lit(rb) - length(bin(col("v")))).as("rho"))
    val weekly = base.groupBy(col("scope"), col("wk"), col("bucket"))
      .agg(max(col("rho")).as("m"))
    def estimate(regs: DataFrame, out: String): DataFrame = {
      val hll = regs.groupBy(col("scope")).agg(
        sum(lit(1.0) / expr("shiftleft(1L, m)")).as("z_present"),
        count(lit(1)).as("n_present"))
      val z = col("z_present") + (lit(hllM) - col("n_present")).cast("double")
      val zeros = lit(hllM) - col("n_present")
      val estRaw = expr(hllAlphaMM) / z
      val est = when(estRaw <= 2.5 * hllM && zeros > 0,
        lit(hllM.toDouble) * log(lit(hllM.toDouble) / zeros.cast("double")))
        .otherwise(estRaw)
      hll.select(col("scope"), round(est, 1).as(out))
    }
    val merged = estimate(
      weekly.groupBy(col("scope"), col("bucket")).agg(max(col("m")).as("m")),
      "est_merged")
    val direct = estimate(
      base.groupBy(col("scope"), col("bucket")).agg(max(col("rho")).as("m")),
      "est_direct")
    val weeks = weekly.groupBy(col("scope"))
      .agg(countDistinct(col("wk")).as("n_weeks"))
    weeks.join(merged, "scope").join(direct, "scope")
      .select(col("scope"), col("n_weeks"), col("est_direct"),
        col("est_merged"),
        (col("est_merged") === col("est_direct")).as("merge_exact"))
      .orderBy("scope")
  }

  private def hllMergeOracle: String = {
    val rb = hllVBits + 1
    def estCte(src: String, out: String): String =
      s"""  SELECT scope,
         |    round(CASE WHEN $hllAlphaMM/(z_present + ($hllM - n_present)) <= ${2.5 * hllM}
         |              AND $hllM - n_present > 0
         |         THEN ${hllM.toDouble} * ln(${hllM.toDouble}/($hllM - n_present))
         |         ELSE $hllAlphaMM/(z_present + ($hllM - n_present)) END, 1) AS $out
         |  FROM (SELECT scope, sum(1.0::DOUBLE/(1::BIGINT << m)) AS z_present,
         |          count(*) AS n_present
         |        FROM $src GROUP BY scope)""".stripMargin
    s"""WITH base AS (
       |  SELECT event_type AS scope, epoch_us(ts) // 604800000000 AS wk,
       |    h % $hllM AS bucket,
       |    CASE WHEN h // $hllM = 0 THEN $rb
       |         ELSE $rb - length(bin(h // $hllM)) END AS rho
       |  FROM (SELECT event_type, ts,
       |          ('0x'||substr(md5(event_id::VARCHAR),1,7))::BIGINT AS h
       |        FROM events)
       |), weekly AS (
       |  SELECT scope, wk, bucket, max(rho) AS m FROM base GROUP BY 1, 2, 3
       |), mergedregs AS (
       |  SELECT scope, bucket, max(m) AS m FROM weekly GROUP BY 1, 2
       |), directregs AS (
       |  SELECT scope, bucket, max(rho) AS m FROM base GROUP BY 1, 2
       |), merged AS (
       |${estCte("mergedregs", "est_merged")}
       |), direct AS (
       |${estCte("directregs", "est_direct")}
       |), weeks AS (
       |  SELECT scope, CAST(count(DISTINCT wk) AS BIGINT) AS n_weeks
       |  FROM weekly GROUP BY 1
       |)
       |SELECT w.scope, w.n_weeks, d.est_direct, m.est_merged,
       |  m.est_merged = d.est_direct AS merge_exact
       |FROM weeks w JOIN merged m USING (scope) JOIN direct d USING (scope)
       |ORDER BY scope""".stripMargin
  }

  // -------------------------------------------- SRP-blocked cosine verify

  private val clTau = 0.35     // same threshold as VectorOps.cosinePairsLsh

  /** Corpus-adaptive banding of the 32-bit affine signature, mirroring
    * [[VectorOps.cosinePairsLsh]]'s r13 fix (fixed-width bands go
    * quadratic once bucket size grows with the corpus): bandBits =
    * clamp(4..8, ⌈log₂(n/64)⌉) keeps expected bucket occupancy ~64,
    * nBands = 32 div bandBits. At the sf0.001/sf0.01 gate sizes this
    * floors to EXACTLY the historical 8 bands × 4 bits, so the oracle
    * hash is unchanged there; both engines derive the same config from
    * count(*) (Spark: one count action; DuckDB: a params CTE).
    *
    * INTEGER-EXACT (ADVICE r13): ceil(log2(n/64)) ≥ k+1 ⟺ n > 64·2^k, so
    * the clamped value is 4 plus the count of exceeded power-of-two
    * thresholds — no libm log whose 1-ulp drift vs DuckDB's log2 could
    * flip the ceil at n = 2048/4096/8192 and split the two engines onto
    * different band widths. The oracle CTE mirrors the same comparisons. */
  private def clConfig(n: Long): (Int, Int) = {
    val bandBits = 4 + Seq(1024L, 2048L, 4096L, 8192L).count(n > _)
    (32 / bandBits, bandBits)
  }

  /** Exact-integer sum zip-dot — every term |x·y| < 2^42, 64 terms sum
    * inside one row in fixed order ⇒ exact int64 on both engines. */
  private def intDot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotLong(a, b) // codegen'd exact int64

  /** The fully-oracled twin of [[VectorOps.cosinePairsLsh]]: SRP-banded
    * candidate generation (8 bands × 4-bit buckets of the 32-bit affine
    * signature — a plain equi self-join on (band, bucket), never all
    * pairs) followed by EXACT cosine verification on 2^20-quantized
    * integer coordinates: cos = Σq₁q₂ / (√Σq₁²·√Σq₂²) — the integer dot
    * products are order-fixed int64, the two sqrt/divide steps are
    * correctly-rounded IEEE on identical inputs, so the emitted cosine is
    * bit-identical across engines and needs NO rounding. Production keeps
    * engine-native xxhash64 SRP ([[VectorOps.cosinePairsLsh]], rows-only);
    * this twin hash-proves the same banding+verify pipeline shape. */
  def cosineLshAffine(s: SparkSession, dir: String): DataFrame = {
    val sig = srpSig(s, dir).persist() // q-cache
    val (clBands, clBandBits) = clConfig(sig.count())
    val bandStructs = (0 until clBands).map { b =>
      struct(lit(b).as("band"),
        expr(s"(sig div ${1L << (clBandBits * b)}) % ${1 << clBandBits}")
          .as("bucket"))
    }
    val banded = sig
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cands = banded.select(col("band"), col("bucket"), col("vec_id").as("id1"))
      .join(banded.select(col("band"), col("bucket"), col("vec_id").as("id2")),
        Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    // plain equi joins against the corpus-sized quantized-vector relation
    val qv = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT))")
        .as("q"))
      .withColumn("dd", intDot(col("q"), col("q")))
    val v1 = qv.select(col("vec_id").as("id1"), col("q").as("q1"), col("dd").as("d1"))
    val v2 = qv.select(col("vec_id").as("id2"), col("q").as("q2"), col("dd").as("d2"))
    cands.join(v1, "id1").join(v2, "id2")
      .withColumn("cos", intDot(col("q1"), col("q2"))
        / (sqrt(col("d1")) * sqrt(col("d2"))))
      .filter(col("cos") >= clTau)
      .select(col("id1"), col("id2"), col("cos"))
      .orderBy(col("id1"), col("id2"))
  }

  /** SRP-ANN recall@5 under the hash oracle — the r13-verdict promotion
    * of `q_ann_srp_recall` off rows-only, by the same recipe that
    * promoted IVF in r13: every float/engine-hash step of
    * [[VectorOps.annSrpRecall]] is replaced with its exact-integer
    * affine twin. The signature is [[srpSig]] (quantized coords × affine
    * ±1 planes — bit-identical across engines), banding is
    * [[clConfig]]'s corpus-adaptive (band, bucket) split of the 32-bit
    * signature (integer-exact width derivation), candidates are the
    * query-side banded equi join (never all pairs on the ANN path), and
    * BOTH rankings — the exact top-5 baseline and the ANN re-rank — use
    * the int64-dot cosine, so recall@5 itself hash-matches DuckDB. The
    * xxhash64-signature production variant stays spec-pinned
    * (TextVectorSpec recall floor, PlanSpec no-BNLJ shape); plan shape
    * here is identical — broadcast Q-row query side, banded candidate
    * join, per-query windows. */
  def annSrpRecall(s: SparkSession, dir: String): DataFrame = {
    val sig = srpSig(s, dir).persist() // q-cache
    val (clBands, clBandBits) = clConfig(sig.count())
    val bandStructs = (0 until clBands).map { b =>
      struct(lit(b).as("band"),
        expr(s"(sig div ${1L << (clBandBits * b)}) % ${1 << clBandBits}")
          .as("bucket"))
    }
    val banded = sig
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val qb = banded.filter(col("vec_id") < 10)
      .select(col("band"), col("bucket"), col("vec_id").as("query_id"))
    val cands = banded.join(broadcast(qb), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id")).distinct()
    val qv = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT))")
        .as("q"))
      .withColumn("dd", intDot(col("q"), col("q")))
    val qr = qv.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("dd").as("qdd"))
    // exact baseline needs Q×N by definition; Q = 10 rides a broadcast
    val scored = qv
      .select(col("vec_id").as("cand_id"), col("q").as("cq"), col("dd").as("cdd"))
      .join(broadcast(qr), col("query_id") =!= col("cand_id"))
      .withColumn("cos", intDot(col("qq"), col("cq"))
        / (sqrt(col("qdd")) * sqrt(col("cdd"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    val exactTop = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("cand_id"))
    val annTop = scored.join(cands, Seq("query_id", "cand_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("cand_id").as("ann_id"))
    exactTop
      .join(annTop, exactTop("query_id") === annTop("query_id") &&
        col("cand_id") === col("ann_id"), "left")
      .groupBy(exactTop("query_id").as("query_id"))
      .agg((count(col("ann_id")) / lit(5.0)).as("recall_at_5"))
      .orderBy(col("query_id"))
  }

  /** Shared DuckDB params+banded CTE suffix over `sig2`: the
    * corpus-adaptive (band, bucket) split both [[cosineLshAffine]] and
    * [[annSrpRecall]] block on — integer-exact width derivation
    * (ceil(log2(n/64)) ≥ k+1 ⟺ n > 64·2^k, ADVICE r13). */
  private def bandedCte: String =
    """params AS (
      |  SELECT bb, 32 // bb AS nb FROM (
      |    SELECT 4 + (CASE WHEN count(*) > 1024 THEN 1 ELSE 0 END)
      |             + (CASE WHEN count(*) > 2048 THEN 1 ELSE 0 END)
      |             + (CASE WHEN count(*) > 4096 THEN 1 ELSE 0 END)
      |             + (CASE WHEN count(*) > 8192 THEN 1 ELSE 0 END) AS bb
      |    FROM embeddings)
      |), banded AS (
      |  SELECT s.vec_id, CAST(b.band AS INTEGER) AS band,
      |    (s.sig // CAST(pow(2, (SELECT bb FROM params) * b.band) AS BIGINT))
      |      % CAST(pow(2, (SELECT bb FROM params)) AS BIGINT) AS bucket
      |  FROM sig2 s, (SELECT UNNEST(range(8)) AS band) b
      |  WHERE b.band < (SELECT nb FROM params)
      |)""".stripMargin

  private def annSrpOracle: String =
    s"""$srpSigCtes, $bandedCte,
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
       |  FROM banded c JOIN banded q USING (band, bucket)
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
       |), v AS (
       |  SELECT vec_id, qq,
       |    CAST(list_sum(list_transform(qq, x -> x*x)) AS BIGINT) AS dd
       |  FROM (SELECT vec_id,
       |          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1048576) AS BIGINT)) AS qq
       |        FROM embeddings)
       |), scored AS (
       |  SELECT qr.vec_id AS query_id, c.vec_id AS cand_id,
       |    CAST(list_sum(list_transform(range(1,65), i -> qr.qq[i]*c.qq[i])) AS BIGINT)
       |      / (sqrt(qr.dd) * sqrt(c.dd)) AS cos
       |  FROM v qr JOIN v c ON qr.vec_id < 10 AND c.vec_id <> qr.vec_id
       |), exact_top AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rk
       |    FROM scored) WHERE rk <= 5
       |), ann_top AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT s.query_id, s.cand_id,
       |      row_number() OVER (PARTITION BY s.query_id ORDER BY s.cos DESC, s.cand_id) AS rk
       |    FROM scored s JOIN cand c USING (query_id, cand_id))
       |  WHERE rk <= 5
       |)
       |SELECT e.query_id, count(a.cand_id) / 5.0 AS recall_at_5
       |FROM exact_top e LEFT JOIN ann_top a
       |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  private def cosineLshAffineOracle: String = {
    s"""$srpSigCtes, $bandedCte, cand AS (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |  FROM banded a JOIN banded b USING (band, bucket)
       |  WHERE a.vec_id < b.vec_id
       |), v AS (
       |  SELECT vec_id, qq,
       |    CAST(list_sum(list_transform(qq, x -> x*x)) AS BIGINT) AS dd
       |  FROM (SELECT vec_id,
       |          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1048576) AS BIGINT)) AS qq
       |        FROM embeddings)
       |), scored AS (
       |  SELECT c.id1, c.id2,
       |    CAST(list_sum(list_transform(range(1,65), i -> a.qq[i]*b.qq[i])) AS BIGINT)
       |      / (sqrt(a.dd) * sqrt(b.dd)) AS cos
       |  FROM cand c JOIN v a ON c.id1 = a.vec_id JOIN v b ON c.id2 = b.vec_id
       |)
       |SELECT id1, id2, cos FROM scored WHERE cos >= $clTau
       |ORDER BY id1, id2""".stripMargin
  }

  // ------------------------------------------------- KMV over user-day keys

  private val kmvUK = 64
  private val kmvURange = 268435456L // md5h < 2^28

  /** The fully-oracled twin of [[Analytics.kmvUsers]]: KMV sketches of the
    * distinct (user, day) STRING key per event_type — base hash is the
    * md5 prefix (the xxhash64 stand-in; the affine family would be fed
    * strings here, and md5 mixes), est = (k−1)·2^28 / h_(k) — plus the
    * sketch SET ALGEBRA the production query demonstrates: the click/view
    * union sketch is the k smallest of the combined hash sets,
    * |A∪B| ≈ (k−1)·2^28/θ, and |A∩B| ≈ (|both ∩ unionK|/k)·|A∪B| (Beyer
    * et al. SIGMOD '07). No decimal rounding anywhere: every estimate is a
    * chain of IEEE ops on identical exact integers, bit-identical across
    * engines. Per-scope rank is a window over post-distinct hashes; the
    * production path keeps the mergeable `KmvSketch` UDAF. */
  def kmvUsersAffine(s: SparkSession, dir: String): DataFrame = {
    val hashed = events(s, dir)
      .select(col("event_type").as("scope"),
        concat_ws(":", col("user_id"),
          date_trunc("day", col("ts")).cast("date").cast("string")).as("ud"))
      .withColumn("h", md5h(col("ud")))
      .persist() // q-cache
    val exact = hashed.groupBy(col("scope"))
      .agg(countDistinct(col("ud")).as("exact_n"))
    val dh = hashed.select(col("scope"), col("h")).distinct()
    val sel = dh.withColumn("rn",
        row_number().over(Window.partitionBy(col("scope")).orderBy(col("h"))))
      .filter(col("rn") === kmvUK).select(col("scope"), col("h"))
    val perType = exact.join(sel, Seq("scope"), "left")
      .select(col("scope"), col("exact_n"),
        when(col("h").isNull, col("exact_n").cast("double"))
          .otherwise(lit((kmvUK - 1).toDouble) * kmvURange / col("h"))
          .as("kmv_est"))
    // click/view set algebra purely from hash sets (no rescan of events)
    val hc = hashed.filter(col("scope") === "click").select(col("h")).distinct()
    val hv = hashed.filter(col("scope") === "view").select(col("h")).distinct()
    val unionK = hc.union(hv).distinct().orderBy(col("h")).limit(kmvUK)
    val uStats = unionK.agg(max(col("h")).as("hk"), count(lit(1)).as("ku"))
    val inBoth = unionK.join(hc, Seq("h"), "left_semi")
      .join(hv, Seq("h"), "left_semi").agg(count(lit(1)).as("nb"))
    val cu = hashed.filter(col("scope") === "click").select(col("ud")).distinct()
    val vu = hashed.filter(col("scope") === "view").select(col("ud")).distinct()
    val exactU = cu.union(vu).distinct().agg(count(lit(1)).as("xu"))
    val exactI = cu.intersect(vu).agg(count(lit(1)).as("xi"))
    val estU = when(col("ku") < kmvUK, col("ku").cast("double"))
      .otherwise(lit((kmvUK - 1).toDouble) * kmvURange / col("hk"))
    val setRows = uStats.crossJoin(inBoth).crossJoin(exactU).crossJoin(exactI)
      .select(
        struct(lit("click|view").as("scope"), col("xu").as("exact_n"),
          estU.as("kmv_est")).as("u"),
        struct(lit("click&view").as("scope"), col("xi").as("exact_n"),
          (col("nb").cast("double") / kmvUK * estU).as("kmv_est")).as("i"))
      .select(explode(array(col("u"), col("i"))).as("r"))
      .select(col("r.scope"), col("r.exact_n"), col("r.kmv_est"))
    perType.union(setRows).orderBy(col("scope"))
  }

  private def kmvUsersAffineOracle: String = {
    val k = kmvUK
    val estU = s"CASE WHEN s.ku < $k THEN CAST(s.ku AS DOUBLE) ELSE ${(k - 1).toDouble}*$kmvURange/s.hk END"
    s"""WITH hh AS (
       |  SELECT event_type AS scope,
       |    user_id::VARCHAR || ':' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS ud,
       |    ('0x'||substr(md5(user_id::VARCHAR || ':' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)),1,7))::BIGINT AS h
       |  FROM events
       |), exact AS (
       |  SELECT scope, count(DISTINCT ud) AS exact_n FROM hh GROUP BY 1
       |), dh AS (
       |  SELECT DISTINCT scope, h FROM hh
       |), rnk AS (
       |  SELECT scope, h, row_number() OVER (PARTITION BY scope ORDER BY h) AS rn FROM dh
       |), sel AS (SELECT scope, h FROM rnk WHERE rn = $k
       |), pertype AS (
       |  SELECT e.scope, e.exact_n,
       |    CASE WHEN s.h IS NULL THEN CAST(e.exact_n AS DOUBLE)
       |         ELSE ${(k - 1).toDouble}*$kmvURange/s.h END AS kmv_est
       |  FROM exact e LEFT JOIN sel s USING (scope)
       |), hc AS (SELECT DISTINCT h FROM hh WHERE scope = 'click'
       |), hv AS (SELECT DISTINCT h FROM hh WHERE scope = 'view'
       |), unionk AS (
       |  SELECT DISTINCT h FROM (SELECT h FROM hc UNION ALL SELECT h FROM hv)
       |  ORDER BY h LIMIT $k
       |), ustats AS (SELECT max(h) AS hk, count(*) AS ku FROM unionk
       |), inboth AS (
       |  SELECT CAST(count(*) AS BIGINT) AS nb FROM unionk u
       |  WHERE EXISTS (SELECT 1 FROM hc WHERE hc.h = u.h)
       |    AND EXISTS (SELECT 1 FROM hv WHERE hv.h = u.h)
       |), cu AS (SELECT DISTINCT ud FROM hh WHERE scope = 'click'
       |), vu AS (SELECT DISTINCT ud FROM hh WHERE scope = 'view'
       |), exu AS (
       |  SELECT CAST(count(*) AS BIGINT) AS xu
       |  FROM (SELECT ud FROM cu UNION SELECT ud FROM vu)
       |), exi AS (
       |  SELECT CAST(count(*) AS BIGINT) AS xi
       |  FROM (SELECT ud FROM cu INTERSECT SELECT ud FROM vu)
       |)
       |SELECT scope, exact_n, kmv_est FROM pertype
       |UNION ALL
       |SELECT 'click|view', exu.xu, $estU FROM exu, ustats s
       |UNION ALL
       |SELECT 'click&view', exi.xi, (CAST(i.nb AS DOUBLE)/$k)*$estU
       |FROM exi, inboth i, ustats s
       |ORDER BY scope""".stripMargin
  }

  // --------------------------------------------------- exact-integer PQ/ADC

  private val pqaM = 8        // subspaces   (mirrors VectorOps.pqM)
  private val pqaDsub = 8     // dims/subspace (mirrors VectorOps.pqDsub)
  private val pqaK = 8        // centroids/subspace (oracle-sized k)
  private val pqaIters = 2    // unrolled Lloyd iterations
  private val pqaScale = 1048576L

  /** (vec_id, m, sq): 2^20-quantized integer subvectors, one row per
    * subspace — the exact-arithmetic mirror of [[VectorOps]]'s pqSubvectors
    * (raw coordinates; the production path's float L2-normalization has no
    * exact twin and changes nothing about the pipeline shape). */
  private def pqaSub(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "embeddings").select(col("vec_id"), explode(expr(
      s"""transform(sequence(0, ${pqaM - 1}), m -> struct(m AS m,
         |  transform(sequence(0, ${pqaDsub - 1}), j ->
         |    CAST(floor(CAST(embedding[m * $pqaDsub + j] AS DOUBLE) * $pqaScale) AS BIGINT)) AS sq))"""
        .stripMargin)).as("t"))
      .select(col("vec_id"), col("t.m").as("m"), col("t.sq").as("sq"))

  /** Exact int64 squared L2 over one row's 8-dim integer subvectors. */
  private def pqaSqDist(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.sqDistLong(a, b) // codegen'd exact int64

  /** Nearest-centroid assignment per (vec, subspace): one broadcast join
    * against the ≤ pqaM·pqaK-row codebook + a map-side-combined min-struct
    * agg — all subspaces assign in the same job, the grouped-k-means trick
    * of [[VectorOps]]'s pqFitCodebook. Distances are exact int64; argmin
    * tie-breaks on centroid id. */
  private def pqaAssign(sub: DataFrame, cent: DataFrame): DataFrame =
    sub.join(broadcast(cent), "m")
      .withColumn("dist", pqaSqDist(col("sq"), col("cv")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("c"))).as("best"),
        first(col("sq")).as("sq")) // sq is constant per (vec_id, m)
      .select(col("vec_id"), col("m"), col("best.c").as("c"), col("sq"))

  /** Floor-divided integer centroid means per (m, c) — (s−((s%n+n)%n)) div n
    * so truncating `div` (Spark) and floor `//` (DuckDB) agree on
    * negatives; empty clusters drop on both engines alike. */
  private def pqaCentroids(assigned: DataFrame): DataFrame =
    assigned.select(col("m"), col("c"), posexplode(col("sq")).as(Seq("j", "v")))
      .groupBy(col("m"), col("c"), col("j"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .withColumn("mv", expr("(sv - ((sv % n + n) % n)) div n"))
      .groupBy(col("m"), col("c"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("mv")))),
        x => x.getField("mv")).as("cv"))

  /** Fit + final codes: init = the quantized subvectors of vec_id 0..k−1,
    * then [[pqaIters]] exact-integer Lloyd rounds. Returns (sub, codebook,
    * codes). */
  private def pqaFit(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val sub = pqaSub(s, dir).persist() // q-cache (r14-opt: widen tried, measured net-negative — 16k tiny rows)
    val init = sub.filter(col("vec_id") < pqaK)
      .select(col("m"), col("vec_id").as("c"), col("sq").as("cv"))
    val fitted = (1 to pqaIters).foldLeft(init) { (cent, _) =>
      pqaCentroids(pqaAssign(sub, cent))
    }
    (sub, fitted, pqaAssign(sub, fitted))
  }

  /** The exact-integer twin of [[VectorOps.pqQuantize]] — the semDedup
    * quantized-Lloyd's recipe ([[VectorOps.semDedup]]) applied to the PQ
    * codebook fit, so the CODES THEMSELVES and the integer reconstruction
    * SSE hash-match a generated DuckDB twin running the identical unrolled
    * k-means per subspace (8 subspaces × 8 centroids × 2 iterations,
    * deterministic init, integer distances, floor-divided means). The
    * production PQ path ([[VectorOps.pqQuantize]], float k-means over
    * L2-normalized subvectors) stays rows-only by design. */
  def pqAffine(s: SparkSession, dir: String): DataFrame = {
    val (_, cent, codes) = pqaFit(s, dir)
    codes.join(broadcast(cent), Seq("m", "c"))
      .withColumn("se", pqaSqDist(col("sq"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("m"), col("c")))),
          x => x.getField("c")), ",").as("codes"),
        sum(col("se")).as("recon_sse"))
      .orderBy(col("vec_id"))
  }

  /** The exact-integer twin of [[VectorOps.annPqRecall]]'s ADC serving
    * path: per query (vec_id < 5) the pqaM×pqaK lookup table of integer
    * subspace distances is precomputed once, and every candidate's
    * estimated distance is a sum of 8 LUT entries joined by (m, c) — no
    * full-dimension arithmetic per candidate, the property that makes PQ
    * serving fast at billions of vectors. Estimated distances are exact
    * int64 ⇒ the per-query top-3 (adc, cand_id) ranking hash-matches. */
  def pqAdcAffine(s: SparkSession, dir: String): DataFrame = {
    val (sub, cent, codes) = pqaFit(s, dir)
    val lut = sub.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("m"), col("sq").as("qsq"))
      .join(broadcast(cent), "m")
      .withColumn("ld", pqaSqDist(col("qsq"), col("cv")))
      .select(col("query_id"), col("m"), col("c"), col("ld"))
    val est = codes.join(broadcast(lut), Seq("m", "c"))
      .groupBy(col("query_id"), col("vec_id").as("cand_id"))
      .agg(sum(col("ld")).as("adc"))
      .filter(col("query_id") =!= col("cand_id"))
    est.withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc"), col("cand_id"))))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("rk"), col("cand_id"), col("adc"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Shared PQ oracle prefix: subvectors → init → 2 unrolled Lloyd rounds
    * → final `codes(vec_id, m, sq, c)` with codebook `c2(m, c, cv)`. */
  private def pqaOracleCtes: String = {
    val subList =
      s"list_transform(range(1, ${pqaDsub + 1}), j -> CAST(floor(CAST(embedding[m*$pqaDsub+j] AS DOUBLE)*$pqaScale) AS BIGINT))"
    val dist =
      s"list_sum(list_transform(range(1,${pqaDsub + 1}), i -> (s.sq[i]-cb.cv[i])*(s.sq[i]-cb.cv[i])))"
    def assignCte(cent: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, m, sq, c FROM (
         |    SELECT s.vec_id, s.m, s.sq, cb.c,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY $dist, cb.c) AS rn
         |    FROM sub s JOIN $cent cb USING (m)) WHERE rn = 1
         |)""".stripMargin
    def centCte(src: String, out: String): String =
      s"""$out AS (
         |  SELECT m, c, list((sv - ((sv % n + n) % n)) // n ORDER BY j) AS cv FROM (
         |    SELECT m, c, j, sum(v) AS sv, count(*) AS n FROM (
         |      SELECT m, c, unnest(sq) AS v, unnest(range(1, ${pqaDsub + 1})) AS j FROM $src)
         |    GROUP BY m, c, j)
         |  GROUP BY m, c
         |)""".stripMargin
    s"""WITH sub AS (
       |  SELECT vec_id, m, $subList AS sq
       |  FROM embeddings, (SELECT unnest(range(0, $pqaM)) AS m)
       |), init AS (
       |  SELECT m, vec_id AS c, sq AS cv FROM sub WHERE vec_id < $pqaK
       |), ${assignCte("init", "a1")},
       |${centCte("a1", "c1")},
       |${assignCte("c1", "a2")},
       |${centCte("a2", "c2")},
       |${assignCte("c2", "codes")}""".stripMargin
  }

  private def pqAffineOracle: String =
    s"""$pqaOracleCtes, sse AS (
       |  SELECT k.vec_id, k.m, k.c,
       |    list_sum(list_transform(range(1,${pqaDsub + 1}), i -> (k.sq[i]-cb.cv[i])*(k.sq[i]-cb.cv[i]))) AS se
       |  FROM codes k JOIN c2 cb ON k.m = cb.m AND k.c = cb.c
       |)
       |SELECT vec_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY m) AS codes,
       |       CAST(sum(se) AS BIGINT) AS recon_sse
       |FROM sse GROUP BY vec_id ORDER BY vec_id""".stripMargin

  private def pqAdcAffineOracle: String =
    s"""$pqaOracleCtes, lut AS (
       |  SELECT s.vec_id AS query_id, s.m, cb.c,
       |    list_sum(list_transform(range(1,${pqaDsub + 1}), i -> (s.sq[i]-cb.cv[i])*(s.sq[i]-cb.cv[i]))) AS ld
       |  FROM sub s JOIN c2 cb USING (m) WHERE s.vec_id < 5
       |), est AS (
       |  SELECT q.query_id, k.vec_id AS cand_id, CAST(sum(q.ld) AS BIGINT) AS adc
       |  FROM codes k JOIN lut q ON k.m = q.m AND k.c = q.c
       |  WHERE q.query_id <> k.vec_id
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT query_id, cand_id, adc,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rk
       |  FROM est
       |)
       |SELECT query_id, CAST(rk AS INTEGER) AS rk, cand_id, adc
       |FROM ranked WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  // ------------------------------------------------------------------ wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hll_merge" -> (hllMerge _),
    "q_kmv_intersect" -> (kmvIntersect _),
    "q_minhash_affine" -> (minhashAffine _),
    "q_edit_verify" -> (editVerify _),
    "q_dedup_pr" -> (dedupPr _),
    "q_simhash_affine" -> (simhashAffine _),
    "q_srp_affine" -> (srpAffine _),
    "q_ann_srp_recall" -> (annSrpRecall _),
    "q_winnow_affine" -> (winnowAffine _),
    "q_winnow_pairs" -> (winnowPairs _),
    "q_kmv_affine" -> (kmvAffine _),
    "q_hll_affine" -> (hllAffine _),
    "q_cosine_lsh_affine" -> (cosineLshAffine _),
    "q_kmv_users_affine" -> (kmvUsersAffine _),
    "q_pq_affine" -> (pqAffine _),
    "q_pq_adc_affine" -> (pqAdcAffine _))

  val oracleSql: Map[String, String] = Map(
    "q_minhash_affine" -> minhashAffineOracle,
    "q_edit_verify" -> editVerifyOracle,
    "q_dedup_pr" -> dedupPrOracle,
    "q_simhash_affine" -> simhashAffineOracle,
    "q_srp_affine" -> srpAffineOracle,
    "q_ann_srp_recall" -> annSrpOracle,
    "q_winnow_affine" -> winnowAffineOracle,
    "q_winnow_pairs" -> winnowPairsOracle,
    "q_kmv_affine" -> kmvAffineOracle,
    "q_hll_affine" -> hllAffineOracle,
    "q_hll_merge" -> hllMergeOracle,
    "q_kmv_intersect" -> kmvIntersectOracle,
    "q_cosine_lsh_affine" -> cosineLshAffineOracle,
    "q_kmv_users_affine" -> kmvUsersAffineOracle,
    "q_pq_affine" -> pqAffineOracle,
    "q_pq_adc_affine" -> pqAdcAffineOracle)
}
