package graft.nlp

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** V61: in-engine CLOSED-FORM model training — the quality-classifier
  * step of a curation pipeline (the fastText-filter role in
  * DataComp/RefinedWeb-style pipelines) done as pure dataflow: fit a
  * least-squares linear probe y ≈ b0 + b1·x1 + b2·x2 DISTILLING the
  * v4a lang-ID rule (teacher: argmax over four marker dictionaries)
  * into two cheap student features (en-stopword ratio, mean word
  * length), by solving the 3×3 normal equations with Cramer's rule —
  * no gradient loop, no model library. (The `lang` metadata column is
  * NOT the target: it is statistically independent of the synthetic
  * text — measured stop-ratio is ~0.065 for every label — so any fit
  * against it converges to the majority class; the teacher verdict is
  * the learnable target a distillation step actually uses.)
  *
  * Why this shape matters at 100 TB: training cost is ONE linear scan
  * producing nine sufficient statistics (a single partial-agg fold to
  * one row), and the solve is O(d³) arithmetic ON that one row —
  * model fitting reduced to the same partial-aggregation pattern as
  * any other aggregate, trivially parallel and shuffle-free. Scoring
  * is a broadcast of the 3-coefficient row + an in-row affine map.
  *
  * Exactness: features are integer MILLI-units, the sufficient
  * statistics and Cramer determinants are DECIMAL(38,0) (DuckDB:
  * HUGEINT) — at these magnitudes (n ≤ 5e3, x ≤ 1e4 milli) the
  * largest determinant term is ~1e25 and det·1e6 ~1e31, well inside
  * both engines' 38-digit range; at corpus scale you'd center/scale
  * the features first (standard practice) to keep the statistics
  * small. Coefficients come out as half-away-from-zero micro-unit
  * longs ([[Exact.signedDivRound]] semantics, spelled for decimals),
  * predictions re-apply them in integer space — every number
  * hash-matches across engines, so even the trained MODEL is oracled.
  */
object ProbeOps extends QueryModule {

  private def dec(c: Column): Column = c.cast(DecimalType(38, 0))

  /** Integer milli-unit ratio (num·1000 + den/2) div den, both ≥ 0. */
  private def milli(num: Column, den: Column): Column =
    Exact.intDiv(num.cast("long") * 1000L + shiftright(den.cast("long"), 1),
      den.cast("long"))

  /** Decimal signed half-away-from-zero division
    * ([[Exact.signedDivRoundDec]]): the Cramer determinants exceed
    * Long range; the quotient fits a Long (micro coefficients). */
  private def sdrDec(num: Column, den: Column): Column =
    Exact.signedDivRoundDec(num, den)

  /** (doc_id, x1 = en-stopword ratio milli, x2 = mean word length
    * milli, y = 1 if the v4a teacher detects English) — one in-row
    * projection per doc (the fused marker pass provides both the
    * student's x1 numerator and the teacher's four scores). Pure
    * projections, so it applies to a STREAMING frame unchanged
    * (st18). */
  private def featuresOf(docs: DataFrame): DataFrame =
    TextOps.withMarkerScores(docs.filter(col("text").isNotNull))
      .select(col("doc_id"),
        milli(col("s_en"), size(col("w"))).as("x1"),
        milli(aggregate(col("w"), lit(0L), (acc, x) => acc + length(x)),
          size(col("w"))).as("x2"),
        when(TextOps.argmaxLang === "en", 1L).otherwise(0L).as("y"))

  private def features(spark: SparkSession, dir: String): DataFrame =
    featuresOf(Tables.documents(spark, dir))

  /** The nine sufficient statistics of the normal equations AᵀA b =
    * Aᵀy for A = [1, x1, x2], folded to ONE row in DECIMAL(38,0). */
  private def suffStats(f: DataFrame): DataFrame =
    f.agg(
      dec(count(lit(1))).as("s00"),
      sum(dec(col("x1"))).as("s01"),
      sum(dec(col("x2"))).as("s02"),
      sum(dec(col("x1")) * dec(col("x1"))).as("s11"),
      sum(dec(col("x1")) * dec(col("x2"))).as("s12"),
      sum(dec(col("x2")) * dec(col("x2"))).as("s22"),
      sum(dec(col("y"))).as("t0"),
      sum(dec(col("x1")) * dec(col("y"))).as("t1"),
      sum(dec(col("x2")) * dec(col("y"))).as("t2"))

  /** Cramer's rule on the 1-row statistics: micro-unit coefficient
    * longs (b0m, b1m, b2m). */
  private def coefficients(stats: DataFrame): DataFrame = {
    val det = col("s00") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("s01") * (col("s01") * col("s22") - col("s12") * col("s02")) +
      col("s02") * (col("s01") * col("s12") - col("s11") * col("s02"))
    val det0 = col("t0") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("s01") * (col("t1") * col("s22") - col("s12") * col("t2")) +
      col("s02") * (col("t1") * col("s12") - col("s11") * col("t2"))
    val det1 = col("s00") * (col("t1") * col("s22") - col("s12") * col("t2")) -
      col("t0") * (col("s01") * col("s22") - col("s12") * col("s02")) +
      col("s02") * (col("s01") * col("t2") - col("t1") * col("s02"))
    val det2 = col("s00") * (col("s11") * col("t2") - col("t1") * col("s12")) -
      col("s01") * (col("s01") * col("t2") - col("t1") * col("s02")) +
      col("t0") * (col("s01") * col("s12") - col("s11") * col("s02"))
    stats
      .withColumn("sgn", when(det < 0, -1L).otherwise(1L))
      .withColumn("dpos", when(det < 0, -det).otherwise(det))
      .select(col("s00"),
        sdrDec(dec(col("sgn")) * det0 * 1000000L, col("dpos")).as("b0m"),
        sdrDec(dec(col("sgn")) * det1 * 1000000L, col("dpos")).as("b1m"),
        sdrDec(dec(col("sgn")) * det2 * 1000000L, col("dpos")).as("b2m"))
  }

  /** Per-doc prediction in integer micro space against the broadcast
    * coefficient row: the model is y ≈ b0 + b1·x1 + b2·x2 over the
    * integer features themselves, so with micro-unit coefficients the
    * micro-unit prediction is b0m + b1m·x1 + b2m·x2 directly (the
    * coefficient rounding to micro costs ≤ ~1e-3 at these feature
    * magnitudes — identical in both engines); class at 0.5. */
  private def scoreAgainst(feats: DataFrame, coef: DataFrame): DataFrame =
    feats.crossJoin(broadcast(coef))
      .withColumn("pred_micro", col("b0m") +
        col("b1m") * col("x1") + col("b2m") * col("x2"))
      .withColumn("pred_en", col("pred_micro") >= 500000L)

  /** The fitted coefficient row, memoized per process
    * ([[graft.util.Memo.frame]] — review finding, round 7): v61, v61b
    * and st18 each need the model, and without the memo every entry
    * invocation re-runs the training scan beside its scoring scan.
    * Memoized, the corpus is scanned once to FIT (the stored-model
    * shape: a filter model is trained once, then served), and each
    * entry pays only its scoring scan. */
  private def fitted(spark: SparkSession, dir: String): DataFrame =
    graft.util.Memo.frame(spark, "v61_probe_coefficients", dir)(
      coefficients(suffStats(features(spark, dir))))

  private def scored(spark: SparkSession, dir: String): DataFrame =
    scoreAgainst(features(spark, dir), fitted(spark, dir))

  /** V61: the trained probe — one row: n, the three micro-coefficient
    * doubles, the training accuracy of the 0.5-threshold class, and
    * the class SEPARATION (mean score of teacher-positive docs minus
    * mean score of the rest). On this corpus the teacher is ~90%
    * positive, so the 0.5-threshold accuracy saturates at the base
    * rate — separation (~0.22-0.29 at every SF) is the number that
    * shows the probe actually learned; a production gate would
    * threshold at a quantile of the score, not at 0.5. */
  def probeTrain(spark: SparkSession, dir: String): DataFrame =
    scored(spark, dir)
      .agg(count(lit(1)).as("n"),
        first(col("b0m")).as("b0m"), first(col("b1m")).as("b1m"),
        first(col("b2m")).as("b2m"),
        sum(when(col("pred_en") === (col("y") === 1L), 1L)
          .otherwise(0L)).as("n_correct"),
        sum(when(col("y") === 1L, col("pred_micro"))).as("sp1"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("y") =!= 1L, col("pred_micro"))).as("sp0"))
      .select(col("n"),
        (col("b0m").cast("double") / 1000000.0).as("b0"),
        (col("b1m").cast("double") / 1000000.0).as("b1"),
        (col("b2m").cast("double") / 1000000.0).as("b2"),
        Exact.ratio6(col("n_correct"), col("n")).as("accuracy"),
        ((Exact.signedDivRound(col("sp1"), col("n1")) -
          Exact.signedDivRound(col("sp0"), col("n") - col("n1")))
          .cast("double") / 1000000.0).as("separation"))

  /** V61b: the per-document scores the curation gate actually consumes
    * — features, micro prediction, predicted class, truth. */
  def probeScores(spark: SparkSession, dir: String): DataFrame =
    scored(spark, dir)
      .select(col("doc_id"), col("x1"), col("x2"), col("pred_micro"),
        col("pred_en"), (col("y") === 1L).as("teacher_en"))
      .orderBy(col("doc_id"))

  /** ST18: the trained probe SERVED on a stream — coefficients fitted
    * batch-side (v61's solve), arriving documents featurized and
    * scored in-row against the broadcast 3-coefficient row (the
    * st15/st16/st17 train-batch/serve-streaming convention, now for a
    * trained model): stateless append map, finite stream == batch, so
    * it shares v61b's oracle unchanged. This is the deploy shape of
    * the quality gate: the filter model scores documents at ingest,
    * before they ever land in the corpus. */
  def streamingProbeScores(spark: SparkSession, dir: String): DataFrame = {
    val coef = fitted(spark, dir)
    val stream = graft.streaming.StreamingOps
      .tableStream(spark, dir, "documents")
    val out = scoreAgainst(featuresOf(stream), coef)
      .select(col("doc_id"), col("x1"), col("x2"), col("pred_micro"),
        col("pred_en"), (col("y") === 1L).as("teacher_en"))
    graft.streaming.StreamingOps.runToBatchAppend(spark, out,
        s"st18_probe_${System.nanoTime()}")
      .orderBy(col("doc_id"))
  }

  private val featureSql: String = {
    val w = graft.nlp.TextOps.wordsSql
    s"""m AS (SELECT doc_id,
       |   ${TextOps.markerSql("en")} AS s_en, ${TextOps.markerSql("de")} AS s_de,
       |   ${TextOps.markerSql("es")} AS s_es, ${TextOps.markerSql("fr")} AS s_fr,
       |   len($w) AS nw,
       |   list_sum(list_transform($w, x -> len(x))) AS tchars
       |  FROM documents WHERE text IS NOT NULL),
       | f AS (SELECT doc_id,
       |   (s_en * 1000 + nw // 2) // nw AS x1,
       |   (tchars * 1000 + nw // 2) // nw AS x2,
       |   CASE WHEN s_en + s_de + s_es + s_fr = 0 THEN 0
       |        WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 1
       |        ELSE 0 END AS y
       |  FROM m)""".stripMargin
  }

  private val cramerSql: String =
    s"""st AS (SELECT CAST(count(*) AS HUGEINT) AS s00,
       |   CAST(sum(x1) AS HUGEINT) AS s01, CAST(sum(x2) AS HUGEINT) AS s02,
       |   CAST(sum(x1*x1) AS HUGEINT) AS s11,
       |   CAST(sum(x1*x2) AS HUGEINT) AS s12,
       |   CAST(sum(x2*x2) AS HUGEINT) AS s22,
       |   CAST(sum(y) AS HUGEINT) AS t0, CAST(sum(x1*y) AS HUGEINT) AS t1,
       |   CAST(sum(x2*y) AS HUGEINT) AS t2 FROM f),
       | dets AS (SELECT s00,
       |   s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02)
       |     + s02*(s01*s12 - s11*s02) AS det,
       |   t0*(s11*s22 - s12*s12) - s01*(t1*s22 - s12*t2)
       |     + s02*(t1*s12 - s11*t2) AS det0,
       |   s00*(t1*s22 - s12*t2) - t0*(s01*s22 - s12*s02)
       |     + s02*(s01*t2 - t1*s02) AS det1,
       |   s00*(s11*t2 - t1*s12) - s01*(s01*t2 - t1*s02)
       |     + t0*(s01*s12 - s11*s02) AS det2
       |  FROM st),
       | coef AS (SELECT s00,
       |   ${OracleSql.signedDivRound(
             "(CASE WHEN det < 0 THEN -det0 ELSE det0 END) * 1000000",
             "CASE WHEN det < 0 THEN -det ELSE det END")} AS b0m,
       |   ${OracleSql.signedDivRound(
             "(CASE WHEN det < 0 THEN -det1 ELSE det1 END) * 1000000",
             "CASE WHEN det < 0 THEN -det ELSE det END")} AS b1m,
       |   ${OracleSql.signedDivRound(
             "(CASE WHEN det < 0 THEN -det2 ELSE det2 END) * 1000000",
             "CASE WHEN det < 0 THEN -det ELSE det END")} AS b2m
       |  FROM dets),
       | sc AS (SELECT f.doc_id, f.x1, f.x2, f.y,
       |   CAST(c.b0m + c.b1m * f.x1 + c.b2m * f.x2 AS BIGINT)
       |     AS pred_micro,
       |   c.b0m, c.b1m, c.b2m
       |  FROM f CROSS JOIN coef c)""".stripMargin

  private val probeTrainSql: String =
    s"""WITH $featureSql,
       | $cramerSql
       |SELECT CAST(count(*) AS BIGINT) AS n,
       | CAST(any_value(b0m) AS DOUBLE) / 1000000.0 AS b0,
       | CAST(any_value(b1m) AS DOUBLE) / 1000000.0 AS b1,
       | CAST(any_value(b2m) AS DOUBLE) / 1000000.0 AS b2,
       | ${OracleSql.ratio6(
           "sum(CASE WHEN (pred_micro >= 500000) = (y = 1) THEN 1 ELSE 0 END)",
           "count(*)")} AS accuracy,
       | CAST(${OracleSql.signedDivRound(
           "sum(CASE WHEN y = 1 THEN pred_micro END)",
           "sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)")}
       |    - ${OracleSql.signedDivRound(
           "sum(CASE WHEN y <> 1 THEN pred_micro END)",
           "sum(CASE WHEN y <> 1 THEN 1 ELSE 0 END)")} AS DOUBLE)
       |   / 1000000.0 AS separation
       |FROM sc""".stripMargin

  private val probeScoresSql: String =
    s"""WITH $featureSql,
       | $cramerSql
       |SELECT doc_id, CAST(x1 AS BIGINT) AS x1, CAST(x2 AS BIGINT) AS x2,
       | pred_micro, pred_micro >= 500000 AS pred_en, y = 1 AS teacher_en
       |FROM sc ORDER BY doc_id""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("v61_linear_probe",
      "V61 in-engine closed-form model training: least-squares linear " +
        "probe distilling the v4a lang-ID teacher into stopword-ratio " +
        "+ word-length features via ONE sufficient-statistics fold + " +
        "Cramer's rule on the 1-row result — integer milli/micro " +
        "units end-to-end, so the trained coefficients AND training " +
        "accuracy are fully oracled",
      probeTrain, Some(probeTrainSql)),
    GraftQuery("v61b_probe_scores",
      "V61b the probe applied: per-document integer-exact affine " +
        "score + 0.5-threshold class against the broadcast 3-" +
        "coefficient row — the quality-gate input a curation " +
        "pipeline consumes",
      probeScores, Some(probeScoresSql)),
    GraftQuery("st18_streaming_probe_scores",
      "ST18 the trained probe served on a stream: batch-fitted " +
        "coefficients broadcast, arriving documents featurized and " +
        "scored in-row — stateless append map, finite stream == " +
        "batch, shares v61b's oracle",
      streamingProbeScores, Some(probeScoresSql)))
}
