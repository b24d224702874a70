package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** q217: TRAINED discriminative quality classifier — the
  * fastText/DCLM/FineWeb-Edu-class corpus filter (Li et al. 2024,
  * "DataComp-LM"; Penedo et al. 2024, "FineWeb"): a linear classifier
  * over hashed bag-of-words features, trained against a labeled split
  * and applied to every document. Completes the repo's quality ladder —
  * heuristic ratios (q31), LM perplexity (q67/q118), importance
  * weighting (q174) — with the published standard's TRAINED member.
  * Also home of the K-class integer-gradient trainer ([[trainK]] and
  * its oracle twin [[trainOracleCtes]]) that q217 (K=1) and q218's
  * [[LangClassifier]] (K=4) share.
  *
  * Spark-first, deterministic, oracle-replayable (the q63 Lloyd
  * discipline applied to gradient descent):
  *
  *  - FEATURES: the q89 hashed bag-of-words — md5("fh:"+word) mod
  *    [[TextAnalysis.FhBuckets]] counts, per-doc normalized to micro
  *    frequencies by INTEGER division (c·10⁶ div n_words), plus a 10⁶
  *    bias. Bounded width (17 longs/doc), one explode + one map-side-
  *    combined aggregate — corpus-linear at any scale.
  *  - LABELS: a deterministic source-quality rule (even numeric source
  *    suffix = curated, the stand-in for "reference corpus vs crawl" —
  *    DCLM's positive/negative construction). Both engines gate the
  *    suffix behind the SAME anchored digits-only regex (1–18 digits,
  *    so the cast can never overflow or parse '1.5'/'1e3'/19-digit
  *    strings differently) before casting — malformed suffixes land in
  *    the negative class identically in Spark and DuckDB.
  *  - TRAINING: `rounds` full-batch gradient rounds on an md5-strided
  *    doc sample (≤ ~[[TrainTarget]] rows via the power-of-two ladder
  *    [[trainMod]] — the q65 FAISS-style sampled-training stance, which
  *    is ALSO what bounds the gradient sums: |err·x| ≤ 10¹² per row,
  *    ≤ 2¹⁶ rows ⇒ ≤ 6.6·10¹⁶ ≪ 2⁶³). The sigmoid is the EXACT
  *    RATIONAL surrogate σ̃(z) = ½ + z/(2(1+|z|)) in micro fixed-point
  *    (500000 + z·500000 div (10⁶+|z|)) — no exp(), so there is no
  *    cross-engine transcendental to disagree on; Spark `div`, DuckDB
  *    `//`, and Scala `/` all truncate toward zero (verified), and the
  *    weight state after every round is an exact integer vector, so
  *    both engines replay the identical round chain bit-for-bit.
  *  - Each round is ONE map-side-combined aggregate over the
  *    checkpointed training frame: the stride row count plus 17 gradient
  *    sums per class; weights live on the driver as 17 longs per class
  *    (the q63 centroid pattern). Scoring applies the final integer
  *    weights to EVERY feature row — embarrassingly parallel, no shuffle
  *    beyond the feature build.
  *
  * Output: (doc_id, label, score_micro, pred) — pred = score ≥ ½.
  * Docs with no words (or NULL text/source) carry no features and are
  * excluded, exactly as q89 excludes them. */
object QualityClassifier {

  /** Gradient rounds and integer learning rate (features are ~1/16-scale
    * frequencies, so lr 4 converges the planted fixture in 4 rounds —
    * spec-measured at accuracy 1.0). */
  val Rounds = 4
  val Lr = 4L

  /** Training-sample row target; the power-of-two stride ladder keeps
    * per-round gradient sums overflow-safe and training cost flat at
    * any corpus size. Gate fixtures (≤ 65536 docs) train on everything,
    * so gate values are stride-invariant there. */
  val TrainTarget = 65536L

  def trainMod(n: Long): Long = {
    var m = 1L
    while (n > TrainTarget * m) m *= 2
    m
  }

  /** SQL twin of [[trainMod]] (arms cover corpora to 2⁴⁰ docs). */
  def trainModSql(nExpr: String): String = {
    val arms = Iterator.iterate(1L)(_ * 2).takeWhile(_ <= (1L << 40))
      .map(m => s"WHEN $nExpr <= ${TrainTarget * m} THEN $m")
      .mkString(" ")
    s"(CASE $arms ELSE ${1L << 41} END)"
  }

  private val B = TextAnalysis.FhBuckets // 16 hashed buckets + bias

  /** Per-doc micro feature row for any label column: input must carry
    * (doc_id, <labels...>, text); output is (doc_id, <labels...>,
    * x0 (bias), x1..x16) — the q89 hashed bag-of-words as micro
    * frequencies, label columns riding the one map-side-combined
    * aggregate for free. */
  private def featureFrameWith(base: DataFrame,
      labelCols: Seq[String]): DataFrame = {
    val labels = labelCols.map(col)
    val wb = base
      .select(col("doc_id") +: labels :+
        explode(TextAnalysis.words(col("text"))).as("w"): _*)
      .select(col("doc_id") +: labels :+
        (TextAnalysis.md5Long(concat_ws(":", lit("fh"), col("w"))) % B).as("b"): _*)
    val aggs = (0 until B).map(i =>
      sum(when(col("b") === i, 1L).otherwise(0L)).as(s"c$i")) :+
      count(lit(1)).as("nw")
    val counts = wb.groupBy(col("doc_id") +: labels: _*).agg(aggs.head, aggs.tail: _*)
    val xs = (0 until B).map(i => expr(s"c$i * 1000000 div nw").as(s"x${i + 1}"))
    counts.select(col("doc_id") +: labels ++:
      lit(1000000L).as("x0") +: xs: _*)
  }

  private def zSql(w: Array[Long]): String =
    "(" + (0 to B).map(i => s"${w(i)}L * x$i").mkString(" + ") + ") div 1000000"

  /** The shared integer-gradient trainer. `labeled` carries (doc_id,
    * `labelCols`, text); each target is (score column, micro target
    * 0/10⁶ over the label columns). Trains one weight vector per target
    * for `rounds` rounds at learning rate `lr` on the `salt`-keyed md5
    * stride, and returns the feature rows with each target's micro
    * score σ̃(z) in its score column. */
  private[operators] def trainK(labeled: DataFrame, labelCols: Seq[String],
      salt: String, targets: Seq[(String, Column)], rounds: Int,
      lr: Long): DataFrame = {
    val x = featureFrameWith(labeled, labelCols).localCheckpoint() // scored once, trained R×
    val mod = trainMod(x.count())
    // mod == 1 keeps EVERY row (md5 % 1 = 0 identically), so the stride
    // frame IS x — reuse the existing checkpoint instead of paying a
    // second materialization of the same rows (the filter only exists
    // past TrainTarget docs)
    val tr = if (mod == 1L) x
      else x.filter(TextAnalysis.md5Long(
        concat_ws(":", lit(salt), col("doc_id"))) % mod === 0L)
        .localCheckpoint() // R gradient passes read it
    val ws = Array.fill(targets.size, B + 1)(0L)
    def withZ(df: DataFrame, k: Int) = df.withColumn(s"z_$k", expr(zSql(ws(k))))
    def sigma(k: Int) = expr(s"500000 + (z_$k * 500000) div (1000000 + abs(z_$k))")
    // every class's gradients share the training rows and only differ in
    // weights/targets, so one (1 + K·17)-column aggregate per round
    // serves all K. The stride row count rides it (no separate count
    // job). nTr == 0 (zero-row corpus, or a stride that selects no rows
    // on a >TrainTarget corpus): no gradients exist — the sums come back
    // NULL, weights stay 0 and every scored row gets z = 0 → score
    // 500000. The oracle's round chain agrees: its weight update is
    // CASE-guarded on g.n = 0.
    var nTr = -1L
    for (_ <- 0 until rounds if nTr != 0L) {
      val withErr = targets.indices.foldLeft(tr) { (df, k) =>
        withZ(df, k).withColumn(s"err_$k", sigma(k) - targets(k)._2)
      }
      val aggs = count(lit(1)).as("n") +: targets.indices.flatMap(k =>
        (0 to B).map(i => sum(expr(s"err_$k * x$i")).as(s"g_${k}_$i")))
      val g = withErr.agg(aggs.head, aggs.tail: _*).first()
      nTr = g.getLong(0)
      if (nTr != 0L) for (k <- ws.indices; i <- 0 to B) {
        // Scala / truncates toward zero, same as Spark div / DuckDB //
        ws(k)(i) -= lr * (g.getLong(1 + k * (B + 1) + i) / (nTr * 1000000L))
      }
    }
    targets.indices.foldLeft(x) { (df, k) =>
      withZ(df, k).withColumn(targets(k)._1, sigma(k))
    }
  }

  /** Oracle twin of [[trainK]], to follow the caller's label CTE `d`
    * (doc_id, `labelCols`, text): the identical feature build (wb, x),
    * stride (nx, tm, tr) and, per target k, the `rounds`-round weight
    * chain c<k>_w0 .. c<k>_w<rounds> — each round's weights a 1-row CTE
    * derived from the previous round's gradient aggregate, exactly the
    * q63 Lloyd-oracle pattern — then `sc`: x plus each target's micro
    * score column. Targets are (score column, micro target SQL over the
    * training row alias `t`). */
  private[operators] def trainOracleCtes(labelCols: Seq[String], salt: String,
      targets: Seq[(String, String)], rounds: Int, lr: Long): String = {
    val labels = labelCols.mkString(", ")
    val xcols = (0 until B).map(i =>
      s"CAST(SUM(CASE WHEN b = $i THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS x${i + 1}")
      .mkString(",\n  ")
    def zOf(wAlias: String, xAlias: String) =
      "(" + (0 to B).map(i => s"$wAlias.w$i * $xAlias.x$i").mkString(" + ") +
        ") // 1000000"
    val w0 = (0 to B).map(i => s"CAST(0 AS BIGINT) AS w$i").mkString(", ")
    val gcols = (0 to B).map(i =>
      s"CAST(SUM(err * x$i) AS BIGINT) AS g$i").mkString(", ")
    // g.n = 0 guard: an empty training stride leaves the weights
    // unchanged (NULL-safe), mirroring the Spark-side nTr == 0 skip
    val wcols = (0 to B).map(i =>
      s"CASE WHEN g.n = 0 THEN w.w$i ELSE w.w$i - $lr * (g.g$i // (g.n * 1000000)) END AS w$i")
      .mkString(",\n    ")
    val chains = targets.zipWithIndex.flatMap { case ((_, target), k) =>
      s"c${k}_w0 AS (SELECT $w0)" +: (1 to rounds).map { r =>
        s"""c${k}_g$r AS (SELECT COUNT(*) AS n, $gcols FROM (
           |  SELECT t.*, (500000 + (z * 500000) // (1000000 + abs(z))) - ($target) AS err
           |  FROM (SELECT t.*, ${zOf("w", "t")} AS z
           |        FROM tr t CROSS JOIN c${k}_w${r - 1} w) t)),
           |c${k}_w$r AS (SELECT
           |    $wcols
           |  FROM c${k}_w${r - 1} w CROSS JOIN c${k}_g$r g)""".stripMargin
      }
    }.mkString(",\n")
    val zs = targets.indices.map(k => s"${zOf(s"c${k}_w$rounds", "x")} AS z_$k")
      .mkString(",\n    ")
    val scores = targets.zipWithIndex.map { case ((name, _), k) =>
      s"500000 + (z_$k * 500000) // (1000000 + abs(z_$k)) AS $name"
    }.mkString(",\n  ")
    val ws = targets.indices.map(k => s"c${k}_w$rounds").mkString(" CROSS JOIN ")
    s"""wb AS (SELECT doc_id, $labels,
       |    CAST(('0x' || substring(md5('fh:' || w), 1, 15)) AS BIGINT) % $B AS b
       |  FROM (SELECT doc_id, $labels,
       |      unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
       |    FROM d)),
       |x AS MATERIALIZED (SELECT doc_id, $labels, CAST(1000000 AS BIGINT) AS x0,
       |  $xcols
       |  FROM wb GROUP BY doc_id, $labels),
       |nx AS MATERIALIZED (SELECT COUNT(*) AS c FROM x),
       |tm AS MATERIALIZED (SELECT ${trainModSql("(SELECT c FROM nx)")} AS v),
       |tr AS MATERIALIZED (SELECT * FROM x
       |  WHERE CAST(('0x' || substring(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % (SELECT v FROM tm) = 0),
       |$chains,
       |sc AS (SELECT *,
       |  $scores
       |  FROM (SELECT x.*,
       |    $zs
       |    FROM x CROSS JOIN $ws))""".stripMargin
  }

  def trainScore(s: SparkSession, dir: String): DataFrame =
    trainScore(Tables.documents(s, dir))

  /** q217's gated surface: the raw chain plus its presentation sort. */
  def trainScore(docs: DataFrame): DataFrame =
    trainScoreRaw(docs).orderBy("doc_id")

  /** The train+score chain WITHOUT the final global sort — q219 consumes
    * the scores into joins/aggregates where the sort is pure waste (it
    * sits behind a localCheckpoint barrier there, so Catalyst's
    * EliminateSorts cannot remove it). Values identical to
    * [[trainScore]] modulo row order. */
  private[operators] def trainScoreRaw(docs: DataFrame): DataFrame = {
    val labeled = docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("doc_id"),
        when(expr("substring(source, 4)").rlike("^[0-9]{1,18}$") &&
            expr("try_cast(substring(source, 4) AS LONG)") % 2 === 0,
          1000000L).otherwise(0L).as("y"),
        col("text"))
    trainK(labeled, Seq("y"), "qc", Seq("score_micro" -> col("y")), Rounds, Lr)
      .select(col("doc_id"),
        expr("y div 1000000").as("label"),
        col("score_micro"),
        when(col("score_micro") >= 500000L, 1L).otherwise(0L).as("pred"))
  }

  /** q217 oracle: the label CTE, [[trainOracleCtes]], and the `pred`
    * projection. */
  def trainScoreOracleSql: String =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(CASE WHEN regexp_full_match(substr(source, 4), '[0-9]{1,18}')
       |      AND TRY_CAST(substr(source, 4) AS BIGINT) % 2 = 0
       |      THEN 1000000 ELSE 0 END AS BIGINT) AS y, text
       |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
       |${trainOracleCtes(Seq("y"), "qc", Seq("score_micro" -> "t.y"), Rounds, Lr)}
       |SELECT doc_id, CAST(y // 1000000 AS BIGINT) AS label,
       |  CAST(score_micro AS BIGINT) AS score_micro,
       |  CAST(CASE WHEN score_micro >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM sc
       |ORDER BY doc_id""".stripMargin
}

/** q218: TRAINED one-vs-rest multiclass language classifier — q217's
  * integer-gradient trainer at K=4 (the fastText `lid.176` shape:
  * linear one-vs-rest over hashed bag-of-words, Joulin et al. 2016).
  * Labels come from q30's function-word heuristic (model distillation:
  * the trained member generalizes the heuristic's judgment to documents
  * whose function words are sparse), and the confusion readout against
  * the corpus labels is q186's — producer and auditor stay separate.
  *
  *  - LABELS: q30's pred_lang over the same docs (en/es/de/fr/
  *    unknown); class c's binary target is 10⁶·[pred_lang = c] for the
  *    four real languages ("unknown" docs are negatives everywhere).
  *  - TRAINING: [[QualityClassifier.trainK]] with four targets on ONE
  *    shared md5-strided sample, so the corpus is read once.
  *  - PREDICTION: argmax of the four micro scores with q30's own
  *    cascade order breaking ties (en ≥ es ≥ de ≥ fr), abstaining to
  *    'unknown' when every score < ½ — the multiclass analog of q217's
  *    pred = score ≥ ½.
  *
  * Output: (doc_id, heur_lang, pred_lang, score_micro) — score_micro =
  * the winning class's score (max score when abstaining). Docs with no
  * words / NULL text carry no features and are excluded, as in q89/
  * q217. */
object LangClassifier {

  /** The four trained classes, in q30's tie-break order. */
  val Classes: Seq[String] = TextAnalysis.profiles.map(_._1)

  /** One-vs-rest training is 1:3-imbalanced (each class's positives are
    * ~a third of the stride), so q217's (lr 4, 4 rounds) leaves the
    * correct class's score under the abstention threshold: the ~1400-
    * per-round integer steps need ~2 orders more magnitude for
    * σ̃(z) > ½ to fire on in-class docs. 8 rounds at lr 64 clears it
    * (spec-measured: planted 3-language agreement 1.0 with every
    * winning score ≥ ½) and stays overflow-safe: |err·x| ≤ 10¹² per
    * row, weights ≤ ~10⁶, z ≤ ~17·10⁶ ≪ 2⁶³. */
  val Rounds = 8
  val Lr = 64L

  def trainScore(s: SparkSession, dir: String): DataFrame =
    trainScore(Tables.documents(s, dir))

  def trainScore(docs: DataFrame): DataFrame = {
    // one scan: q30's inline argmax cascade labels the same projection
    // that feeds the feature build ([[TextAnalysis.predLangCol]] IS
    // q30's pred_lang expression)
    val labeled = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextAnalysis.predLangCol(col("text")).as("heur_lang"), col("text"))
    val targets = Classes.map(c =>
      s"s_$c" -> when(col("heur_lang") === c, 1000000L).otherwise(0L))
    val scored = QualityClassifier.trainK(labeled, Seq("heur_lang"), "lc",
      targets, Rounds, Lr)
    val Seq(en, es, de, fr) = Classes.map(c => col(s"s_$c"))
    scored.select(col("doc_id"), col("heur_lang"),
        when(en < 500000L && es < 500000L && de < 500000L && fr < 500000L,
          "unknown")
          .when(en >= es && en >= de && en >= fr, "en")
          .when(es >= de && es >= fr, "es")
          .when(de >= fr, "de")
          .otherwise("fr").as("pred_lang"),
        greatest(en, es, de, fr).as("score_micro"))
      .orderBy("doc_id")
  }

  /** q218 oracle: q30's label chain, [[QualityClassifier.trainOracleCtes]]
    * with the four class targets, then the identical argmax cascade. */
  def trainScoreOracleSql: String = {
    val targets = Classes.map(c =>
      s"s_$c" -> s"CASE WHEN t.heur_lang = '$c' THEN 1000000 ELSE 0 END")
    s"""WITH lt AS (SELECT doc_id, text,
       |  len(list_filter(string_split(lower(text),' '), w -> list_contains(['the','a','of','and','to','in','is'], w))) AS score_en,
       |  len(list_filter(string_split(lower(text),' '), w -> list_contains(['el','la','de','y','que','en','un'], w))) AS score_es,
       |  len(list_filter(string_split(lower(text),' '), w -> list_contains(['der','die','das','und','ist','ein','nicht'], w))) AS score_de,
       |  len(list_filter(string_split(lower(text),' '), w -> list_contains(['le','la','de','et','les','des','un'], w))) AS score_fr
       | FROM documents WHERE text IS NOT NULL),
       |d AS (SELECT doc_id,
       |  CASE WHEN score_en=0 AND score_es=0 AND score_de=0 AND score_fr=0 THEN 'unknown'
       |       WHEN score_en>=score_es AND score_en>=score_de AND score_en>=score_fr THEN 'en'
       |       WHEN score_es>=score_de AND score_es>=score_fr THEN 'es'
       |       WHEN score_de>=score_fr THEN 'de'
       |       ELSE 'fr' END AS heur_lang, text
       | FROM lt),
       |${QualityClassifier.trainOracleCtes(Seq("heur_lang"), "lc", targets, Rounds, Lr)}
       |SELECT doc_id, heur_lang,
       |  CASE WHEN s_en < 500000 AND s_es < 500000 AND s_de < 500000 AND s_fr < 500000 THEN 'unknown'
       |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |       WHEN s_de >= s_fr THEN 'de'
       |       ELSE 'fr' END AS pred_lang,
       |  CAST(GREATEST(s_en, s_es, s_de, s_fr) AS BIGINT) AS score_micro
       |FROM sc
       |ORDER BY doc_id""".stripMargin
  }
}
