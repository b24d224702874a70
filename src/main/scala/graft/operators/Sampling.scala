package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic corpus sampling — the selection steps between curation
  * and training: stratified downsampling of over-represented strata and
  * rebalancing the language/domain mixture toward target proportions
  * (the "data mixture" knob every LLM pretraining run tunes).
  *
  * Both operators sample by a 60-bit md5 hash of the document id, not
  * rand(): the kept set is a pure function of the data, so retries,
  * stragglers, and re-runs see the same sample — and any engine
  * (including the DuckDB oracle) reproduces it bit-for-bit. Integer
  * bucket-vs-threshold compares only; no float rates.
  *
  * Scale notes: stratified sampling is a single narrow codegen'd
  * filter — no shuffle at all. Rebalancing adds one tiny per-stratum
  * count aggregate (rows = #strata) broadcast back onto the corpus scan:
  * two passes over the data, zero corpus-sized shuffles.
  */
object Sampling {

  /** 0..99 sampling bucket from the doc id — md5-derived, seed-tagged. */
  private[operators] def hashBucket(id: Column, seed: String, mod: Long): Column =
    TextAnalysis.md5Long(concat(id.cast("string"), lit(seed))) % mod

  /** q47 per-language keep percents: en dominates the corpus, so it is
    * sampled hardest; zh is mid; the rest keep most rows. */
  val StratRates: Seq[(String, Long)] = Seq("en" -> 30L, "zh" -> 50L)
  val DefaultRate = 80L
  val StratSeed = ":strat42"

  /** q47: stratified downsample — keep a document iff its hash bucket
    * falls under its stratum's rate. Expected composition follows the
    * rates; actual membership is deterministic. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(s, dir))

  def stratifiedSample(docs: DataFrame): DataFrame = {
    val rate = StratRates.foldRight(lit(DefaultRate): Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    docs
      .withColumn("strat_bucket", hashBucket(col("doc_id"), StratSeed, 100L))
      .withColumn("rate", rate)
      .filter(col("strat_bucket") < col("rate"))
      .select("doc_id", "lang", "source", "strat_bucket", "rate")
      .orderBy("doc_id")
  }

  /** Generated DuckDB oracle for q47 (same hash, same rates). */
  def stratifiedSampleOracleSql: String = {
    val rateCase = StratRates
      .map { case (l, r) => s"WHEN '$l' THEN $r" }
      .mkString("CASE lang ", " ", s" ELSE $DefaultRate END")
    s"""WITH t AS (SELECT doc_id, lang, source,
       |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '$StratSeed'), 1, 15)) AS BIGINT) % 100 AS strat_bucket,
       |  CAST($rateCase AS BIGINT) AS rate
       | FROM documents)
       |SELECT doc_id, lang, source, strat_bucket, rate
       |FROM t WHERE strat_bucket < rate ORDER BY doc_id""".stripMargin
  }

  /** q49 mixture targets: equal share per language — the corpus is
    * en-heavy, so rebalancing downsamples en and keeps the rest whole
    * (a stratum short of its target keeps all its rows; nothing is
    * upsampled). Weights are integer percents summing to 100. */
  val MixWeights: Seq[(String, Long)] = Seq(
    "en" -> 20L, "es" -> 20L, "de" -> 20L, "fr" -> 20L, "zh" -> 20L)
  val MixSeed = ":mix42"

  /** q49: rebalance the language mixture toward [[MixWeights]] at half
    * the corpus size. Per-stratum keep threshold (ppm) =
    * min(1e6, weight·(N/2)·1e6 / (100·n_stratum)), all integer floor
    * arithmetic, then the same deterministic hash filter as q47. */
  def domainRebalance(s: SparkSession, dir: String): DataFrame =
    domainRebalance(Tables.documents(s, dir))

  def domainRebalance(docs: DataFrame): DataFrame = {
    val weight = MixWeights.foldRight(lit(0L): Column) {
      case ((l, w), acc) => when(col("lang") === l, lit(w)).otherwise(acc)
    }
    // per-stratum counts + corpus total: rows = #strata, so the scalar
    // total rides in as a 1-row broadcast instead of a global window
    // (same values; avoids the single-partition WindowExec entirely)
    val counts = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_stratum"))
    val total = counts.agg(sum(col("n_stratum")).as("total"))
    val strata = counts.crossJoin(broadcast(total))
      .withColumn("w", weight)
      // DECIMAL(38,0) product: at 1e12-row corpora w·(total/2)·1e6
      // overflows Long (silently wrapping negative with ANSI off, which
      // would empty whole strata); the decimal path is exact to 1e38 and
      // DuckDB evaluates the identical widened expression
      .withColumn("thresh_ppm",
        least(lit(1000000L),
          expr("""(CAST(w AS DECIMAL(38,0)) * CAST(total DIV 2 AS DECIMAL(38,0))
                  * 1000000) DIV (100 * n_stratum)""")))
      .select("lang", "n_stratum", "thresh_ppm")
    docs
      .withColumn("mix_bucket", hashBucket(col("doc_id"), MixSeed, 1000000L))
      .join(broadcast(strata), Seq("lang"))
      .filter(col("mix_bucket") < col("thresh_ppm"))
      .select("doc_id", "lang", "mix_bucket", "thresh_ppm")
      .orderBy("doc_id")
  }

  /** q64 sample size per group and the hash modulus (2^50: integral
    * doubles stay exact so the heap's double ordering equals the
    * oracle's integer ordering). */
  val GroupSampleK = 5
  val GroupSampleMod: Long = 1L << 50
  val GroupSampleSeed = ":gsample42"

  /** q64: deterministic k-per-group sample — the dashboard's "show N
    * examples per facet" shape (app.py:120,147 seeded ORDER BY RANDOM()
    * LIMIT per filter), keyed by a stable hash so any engine draws the
    * same sample.
    *
    * Scale: ranking runs as the bounded-heap TopKSimId aggregate — each
    * partition ships at most k rows per group into the shuffle (map-side
    * partial top-k), vs the window idiom's full per-group sort of the
    * corpus. The hash is folded to 2^50 so its negated double is exact
    * and the heap's (sim desc, id asc) order is bit-identical to the
    * oracle's (hash asc, doc_id asc). */
  def groupSample(s: SparkSession, dir: String): DataFrame =
    groupSample(Tables.documents(s, dir))

  def groupSample(docs: DataFrame): DataFrame = {
    val scored = docs.select(
      coalesce(col("lang"), lit("")).as("lang"),
      col("doc_id").as("__cand_id"),
      (-hashBucket(col("doc_id"), GroupSampleSeed, GroupSampleMod))
        .cast("double").as("sim"))
    Similarity.explodeTopKPerGroup(scored, "lang", "doc_id", GroupSampleK)
      .select(col("lang"), col("doc_id"), col("rank").as("sample_rank"),
        (-col("sim_r")).cast("long").as("sample_key"))
      .orderBy("lang", "sample_rank")
  }

  /** Generated DuckDB oracle for q64 — window formulation of the same
    * hash order. */
  def groupSampleOracleSql: String =
    s"""WITH h AS (SELECT COALESCE(lang, '') AS lang, doc_id,
       |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '$GroupSampleSeed'), 1, 15)) AS BIGINT)
       |    % $GroupSampleMod AS sample_key FROM documents),
       |r AS (SELECT lang, doc_id, sample_key,
       |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sample_key, doc_id) AS sample_rank
       | FROM h)
       |SELECT lang, doc_id, sample_rank, sample_key
       |FROM r WHERE sample_rank <= $GroupSampleK ORDER BY lang, sample_rank""".stripMargin

  /** Generated DuckDB oracle for q49 (same weights, same integer
    * threshold arithmetic, same hash). */
  def domainRebalanceOracleSql: String = {
    val weightCase = MixWeights
      .map { case (l, w) => s"WHEN '$l' THEN $w" }
      .mkString("CASE lang ", " ", " ELSE 0 END")
    s"""WITH strata AS (SELECT lang, COUNT(*) AS n_stratum,
       |  SUM(COUNT(*)) OVER () AS total FROM documents GROUP BY lang),
       |thresh AS (SELECT lang, n_stratum,
       |  least(1000000, CAST(floor((CAST($weightCase AS DECIMAL(38,0))
       |    * CAST(total // 2 AS DECIMAL(38,0)) * 1000000)
       |    / (100 * n_stratum)) AS BIGINT)) AS thresh_ppm
       | FROM strata),
       |t AS (SELECT doc_id, d.lang,
       |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '$MixSeed'), 1, 15)) AS BIGINT) % 1000000 AS mix_bucket,
       |  CAST(thresh_ppm AS BIGINT) AS thresh_ppm
       | FROM documents d JOIN thresh USING (lang))
       |SELECT doc_id, lang, mix_bucket, thresh_ppm
       |FROM t WHERE mix_bucket < thresh_ppm ORDER BY doc_id""".stripMargin
  }

  /** Epochs for [[epochShuffle]]. */
  val ShuffleEpochs = 2

  /** q143: deterministic global epoch shuffle — every training run
    * needs each epoch's documents in a fresh pseudo-random order, with
    * a stable GLOBAL position per doc (the sharded data loader seeks by
    * offset). The naive formulation — `row_number() OVER (ORDER BY
    * hash)` — is a single-partition window: one task sorts the whole
    * corpus, the canonical scale-killer. This operator decomposes it:
    * the 48-bit order hash is RANGE-bucketed by its top bits
    * (`h >> 42` → 64 buckets, so bucket asc + h asc IS the global
    * order), positions are ranked per bucket in parallel, and the
    * global position is recovered by adding each bucket's offset — a
    * ≤64-row cumulative count, broadcast back. The ORACLE computes the
    * naive global row_number directly, so the gate value-proves the
    * decomposition ≡ the single-sort semantics — same contract style
    * as q97's two-pass quantiles.
    *
    * Epoch reshuffling falls out of hashing (epoch, doc_id) together:
    * each epoch is an independent permutation, and the fixed epoch
    * count is a narrow explode, not a data copy, until the final
    * projection. */
  def epochShuffle(s: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(s, dir))

  def epochShuffle(documents: DataFrame): DataFrame = {
    val h = expr(
      "cast(conv(substring(md5(concat(cast(epoch as string), ':', cast(doc_id as string))), 1, 12), 16, 10) as bigint)")
    // id-less docs cannot hold a seekable position — excluded in both
    // engine and oracle (and a NULL h would order NULLS FIRST here vs
    // NULLS LAST in the oracle's window)
    val keyed = documents.select(col("doc_id"))
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(ShuffleEpochs - 1))).as("epoch"))
      .withColumn("h", h)
      .withColumn("bucket", shiftright(col("h"), 42)) // 2^48 / 2^42 = 64 ranges
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("epoch"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    val offsets = keyed.groupBy(col("epoch"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("epoch")).orderBy(col("bucket"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(col("epoch"), col("bucket"), col("off"))
    keyed
      .withColumn("r", row_number().over(wb).cast("long"))
      .join(broadcast(offsets), Seq("epoch", "bucket"))
      .select(col("doc_id"), col("epoch"),
        (col("off") + col("r") - 1L).as("position"))
      .orderBy("epoch", "position")
  }

  /** Bucket width for [[qualityBudget]]'s rank-key range split. */
  val BudgetBucketWidth = 4096L

  /** q145: quality-budget (top-p) selection — per language, keep the
    * best-scoring documents until their character mass reaches HALF the
    * group's total; the "spend the token budget on the best data" knob
    * (nucleus-style selection applied to corpus curation). Score =
    * space-density (spaces·10⁶ div n_chars, exact int64 — the q31
    * quality family's cheapest proxy), order (score DESC, doc_id) total.
    *
    * A doc is kept iff 2·(char mass strictly ahead of it) < total — the
    * crossing doc is kept, everything after is cut. The naive window
    * (`SUM OVER (ORDER BY score DESC)` per group — the ORACLE) sorts
    * each group whole on one reducer; this engine never does:
    *
    *  1. per-group char total — one agg, broadcast;
    *  2. score range-bucketed (÷[[BudgetBucketWidth]], ≤245 buckets);
    *     per-(group, bucket) char sums; cumulative over the bucket
    *     TABLE descending (output-sized window, the q83 rule);
    *  3. buckets wholly ahead of the threshold keep ALL their docs with
    *     no per-doc work; buckets wholly behind drop; only the ONE
    *     crossing bucket (≈ n/245 rows) runs a per-doc cumulative.
    *
    * Same contract style as q97/q143: the oracle computes the naive
    * whole-group window, the gate value-proves the decomposition. */
  def qualityBudget(s: SparkSession, dir: String): DataFrame =
    qualityBudget(Tables.documents(s, dir))

  def qualityBudget(documents: DataFrame): DataFrame = {
    val d = documents
      .filter(col("doc_id").isNotNull && col("text").isNotNull && col("n_chars") > 0)
      .select(col("doc_id"), coalesce(col("lang"), lit("")).as("lang"), col("n_chars"),
        expr("(cast(length(text) - length(replace(text, ' ', '')) as bigint) * 1000000) div n_chars")
          .as("rk"))
    val totals = d.groupBy(col("lang")).agg(sum(col("n_chars")).as("tot"))
    val bucketed = d.withColumn("bucket", expr(s"rk div $BudgetBucketWidth"))
    val bcum = bucketed.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n_chars")).as("bchars"))
      .withColumn("bprev", coalesce(
        sum(col("bchars")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("bucket").desc)
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .join(broadcast(totals), Seq("lang"))
    // whole buckets strictly inside the budget: even their LAST doc has
    // prev < tot/2
    val fullKeep = bcum.filter(lit(2L) * (col("bprev") + col("bchars")) <= col("tot"))
      .select(col("lang"), col("bucket"))
    val keptWhole = bucketed.join(broadcast(fullKeep), Seq("lang", "bucket"), "left_semi")
      .select(col("doc_id"), col("lang"))
    // the single crossing bucket per group: per-doc cumulative over
    // ONLY its rows, offset by the bucket prefix
    val boundary = bcum.filter(
      lit(2L) * col("bprev") < col("tot") &&
        lit(2L) * (col("bprev") + col("bchars")) > col("tot"))
      .select(col("lang"), col("bucket"), col("bprev"), col("tot"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("rk").desc, col("doc_id"))
      .rowsBetween(Long.MinValue, -1)
    val keptBoundary = bucketed
      .join(broadcast(boundary), Seq("lang", "bucket"))
      .withColumn("prev", col("bprev") + coalesce(sum(col("n_chars")).over(wDoc), lit(0L)))
      .filter(lit(2L) * col("prev") < col("tot"))
      .select(col("doc_id"), col("lang"))
    keptWhole.unionAll(keptBoundary).orderBy("lang", "doc_id")
  }

  /** q145 oracle: the NAIVE per-group whole-sort cumulative window. */
  def qualityBudgetOracleSql: String =
    """WITH d AS (SELECT doc_id, COALESCE(lang, '') AS lang, n_chars,
      |    (CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) * 1000000) // n_chars AS rk
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND n_chars > 0),
      |r AS (SELECT doc_id, lang, n_chars, tot,
      |    cum - n_chars AS prev
      |  FROM (SELECT *,
      |      SUM(n_chars) OVER (PARTITION BY lang ORDER BY rk DESC, doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      SUM(n_chars) OVER (PARTITION BY lang) AS tot
      |    FROM d))
      |SELECT doc_id, lang FROM r WHERE 2 * prev < tot
      |ORDER BY lang, doc_id""".stripMargin

  /** q143 oracle: the NAIVE single-sort global row_number — the gate
    * proves the bucketed decomposition matches it value-for-value. */
  def epochShuffleOracleSql: String =
    s"""WITH k AS (
       |  SELECT doc_id, epoch,
       |    CAST(('0x' || substring(md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
       |  FROM documents CROSS JOIN (SELECT unnest(range(0, $ShuffleEpochs)) AS epoch)
       |  WHERE doc_id IS NOT NULL)
       |SELECT doc_id, CAST(epoch AS INTEGER) AS epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id) - 1 AS BIGINT) AS position
       |FROM k ORDER BY epoch, position""".stripMargin

  /** q156: the train/val/test split MANIFEST — the split PRODUCER whose
    * assignment q141's leakage audit inspects (same id-hash rule,
    * [[Curation.splitName]], so producer and auditor can never drift).
    * Per (source, split): doc count, byte volume, token volume — the
    * accounting table a training run records before it reads a shard,
    * and the evidence that the 80/10/10 hash split actually landed near
    * its targets per domain (hash splits guarantee proportions only in
    * expectation; the manifest is where skew shows up).
    *
    * Scale notes: one narrow projection (md5-bucket split label,
    * octet_length, token count — all codegen) + one map-combined
    * aggregate to |sources|·3 rows. Nothing shuffles but the
    * output-sized groups. */
  def splitManifest(s: SparkSession, dir: String): DataFrame =
    splitManifest(Tables.documents(s, dir))

  def splitManifest(documents: DataFrame): DataFrame =
    documents.filter(col("doc_id").isNotNull)
      .select(col("source"), Curation.splitName("doc_id").as("split"),
        octet_length(coalesce(col("text"), lit(""))).cast("long").as("nb"),
        size(TextAnalysis.words(coalesce(col("text"), lit("")))).cast("long").as("ntk"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("n_bytes"),
        sum(col("ntk")).as("n_tokens"))
      .orderBy(col("source").asc_nulls_last, col("split"))

  /** q156 oracle: the identical md5 bucket rule (q141's), byte strlen,
    * whitespace token count. */
  val splitManifestOracleSql: String =
    """WITH d AS (SELECT source,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 AS b,
      |    COALESCE(strlen(text), 0) AS nb,
      |    len(list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '')) AS ntk
      |  FROM documents WHERE doc_id IS NOT NULL)
      |SELECT source,
      |  CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(nb) AS BIGINT) AS n_bytes,
      |  CAST(SUM(ntk) AS BIGINT) AS n_tokens
      |FROM d GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  // ---- q175: weighted priority sampling without replacement ----

  /** Per-source sample size and the priority scale. */
  val WsK = 3
  val WsSeed = ":ws42"
  private val WsU = 1073741824L // 2^30: the hash is reduced to 30 bits
  private val WsScale = 1000000L

  /** q175: deterministic weighted sampling WITHOUT replacement — per
    * source, keep the [[WsK]] documents with the smallest priority
    * u/w, where u is a 30-bit hash of the doc id and w = n_chars. This
    * is the Efraimidis–Spirakis A-Res ordering (keys u^(1/w)) linearized:
    * for the near-zero u that win, rank by u^(1/w) and rank by u/w agree
    * to first order, and u/w stays in EXACT integer arithmetic
    * ((u·10⁶) div w — no pow, no ln, no libm; SURVEY §5). Longer
    * documents win proportionally more often, every engine reproduces
    * the identical sample, and re-runs are stable under retries — the
    * property rand()-based weighted sampling cannot give. (Reference
    * anchor: the dashboard's sampled preview panels, `app.py:176` —
    * LIMIT-based, not weight-aware.)
    *
    * Scale notes: one narrow projection computes the priority, then
    * per-source selection runs as the bounded-heap TopKSimId aggregate
    * (sim = −priority; the priority is < 2^30·10⁶ < 2^53 so its
    * negated double is exact and the heap's (sim desc, id asc) order
    * is bit-identical to the oracle's (priority asc, doc_id asc)).
    * Each map partition ships at most K rows per source into the
    * shuffle — a hot source that IS the corpus costs one map-combined
    * pass, never a whole-source sort (the row_number window idiom
    * sorts every row of the hottest source on one reducer and spills;
    * that sort is the 100 TB killer this rewrite removes). The K·
    * |sources| winners then broadcast back onto the corpus scan to
    * recover n_chars. */
  def weightedSample(s: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(s, dir))

  def weightedSample(docs: DataFrame): DataFrame = {
    val base = docs
      .filter(col("n_chars").isNotNull && col("n_chars") > 0)
      .select(col("source"), col("doc_id"), col("n_chars"))
    val scored = base
      .withColumn("u30",
        TextAnalysis.md5Long(concat(col("doc_id").cast("string"), lit(WsSeed))) % WsU)
      .select(col("source"), col("doc_id").as("__cand_id"),
        (-expr(s"(u30 * $WsScale) div n_chars")).cast("double").as("sim"))
    val winners = Similarity.explodeTopKPerGroup(scored, "source", "doc_id", WsK)
      .select(col("source"), col("doc_id"),
        (-col("sim_r")).cast("long").as("priority"),
        col("rank").as("rk"))
    base.select(col("doc_id"), col("n_chars"))
      .join(broadcast(winners), Seq("doc_id"))
      .select(col("source"), col("doc_id"), col("n_chars"),
        col("priority"), col("rk"))
      .orderBy(col("source").asc_nulls_last, col("rk"))
  }

  /** q175 oracle: identical 30-bit hash, integer division, window. */
  val weightedSampleOracleSql: String =
    s"""WITH p AS (SELECT source, doc_id, n_chars,
      |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '$WsSeed'), 1, 15)) AS BIGINT)
      |      % $WsU AS u30
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      |r AS (SELECT source, doc_id, n_chars,
      |    (u30 * $WsScale) // n_chars AS priority,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY (u30 * $WsScale) // n_chars ASC, doc_id ASC) AS rk
      |  FROM p)
      |SELECT source, doc_id, n_chars, priority, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= $WsK ORDER BY source NULLS LAST, rk""".stripMargin

  // ---- q179: temperature-scaled mixture apportionment ----

  /** Epoch budget (rows) and the weight quantization scale. */
  val MixBudget = 10000L
  private val TmScale = 1000000L

  /** q179: temperature-scaled domain mixing with exact largest-remainder
    * apportionment — the multilingual-pretraining recipe (XLM-R,
    * arXiv:1911.02116 §5.1: sample domains ∝ n^T, T < 1 flattens the
    * head so low-resource sources are not drowned). T = 1/2 here, so
    * the unnormalized weight is sqrt(n) — IEEE-exact in every engine —
    * quantized to an integer w = floor(sqrt(n)·10⁶); the per-source
    * row budget is then apportioned by the largest-remainder method in
    * PURE integer arithmetic: floor shares first, the leftover seats go
    * to the largest remainders (source asc ties). Σ alloc = budget
    * EXACTLY — the property naive rounding loses and training-data
    * manifests need.
    *
    * Scale notes: one map-side-combined count per source; everything
    * after runs on the |sources|-row frame (the global window is over
    * that tiny aggregate, never the corpus). */
  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.documents(s, dir))

  def temperatureMix(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source").asc_nulls_last)
    val g = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        floor(sqrt(col("n_docs").cast("double")) * TmScale).cast("long").as("w_scaled"))
    val tot = g.agg(sum(col("w_scaled")).as("tot"))
    val f = g.crossJoin(broadcast(tot))
      .withColumn("alloc_floor", expr(s"($MixBudget * w_scaled) div tot"))
      .withColumn("rem", col("w_scaled") * MixBudget - col("alloc_floor") * col("tot"))
    val leftover = f.agg((lit(MixBudget) - sum(col("alloc_floor"))).as("leftover"))
    f.crossJoin(broadcast(leftover))
      .withColumn("rn", row_number().over(w))
      .select(col("source"), col("n_docs"), col("w_scaled"),
        expr(s"(w_scaled * $TmScale) div tot").as("weight_ppm"),
        (col("alloc_floor") + when(col("rn") <= col("leftover"), 1L).otherwise(0L)).as("alloc"))
      .orderBy(col("source").asc_nulls_last)
  }

  /** q179 oracle: identical sqrt quantization, floor shares, remainder
    * ranking. */
  val temperatureMixOracleSql: String =
    s"""WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY 1),
      |s AS (SELECT source, n_docs,
      |    CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * $TmScale.0) AS BIGINT) AS w_scaled
      |  FROM g),
      |t AS (SELECT CAST(SUM(w_scaled) AS BIGINT) AS tot FROM s),
      |f AS (SELECT s.source, s.n_docs, s.w_scaled, t.tot,
      |    ($MixBudget * w_scaled) // t.tot AS alloc_floor,
      |    w_scaled * $MixBudget - (($MixBudget * w_scaled) // t.tot) * t.tot AS rem
      |  FROM s CROSS JOIN t),
      |l AS (SELECT CAST($MixBudget - SUM(alloc_floor) AS BIGINT) AS leftover FROM f),
      |r AS (SELECT f.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC NULLS LAST) AS rn FROM f)
      |SELECT source, n_docs, w_scaled,
      |  (w_scaled * $TmScale) // tot AS weight_ppm,
      |  CAST(alloc_floor + CASE WHEN rn <= l.leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM r CROSS JOIN l ORDER BY source NULLS LAST""".stripMargin
}
