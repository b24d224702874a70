package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** HyperLogLog count-distinct (Flajolet et al. 2007) with md5-derived,
  * engine-portable registers — the mergeable fixed-memory version of
  * q38's exact COUNT(DISTINCT) for dashboards over an unbounded event
  * stream (reference analog: the per-facet guid counts at app.py:140).
  *
  * Scale notes: the sketch is ONE map-side-combined aggregate whose
  * whole shuffle is ≤ m rows per group (m = 256 registers) no matter
  * how many events scan in — and register tables merge by MAX, so
  * per-partition / per-day sketches union for free, which is the whole
  * reason to keep a sketch instead of a distinct count. The register
  * sum is carried as an EXACT integer (Σ 2^(52−M[j]) scaled by 2^52:
  * every term is dyadic, so the BIGINT sum is order-independent and
  * engine-exact), and the float estimate is one identically-associated
  * multiply/divide chain on top — which is what lets a DuckDB oracle
  * value-check the whole sketch, not just eyeball the estimate.
  *
  * The standard small/large-range corrections are deliberately NOT
  * applied: linear counting needs ln(), whose libm rounding differs
  * across engines; the raw estimator is deterministic everywhere. The
  * zero-register count is emitted so a consumer can apply any
  * correction downstream.
  */
object Hll {

  val M = 256           // registers (b = 8 index bits)
  val WBits = 52        // md5Long yields 60 bits: 8 index + 52 rank bits
  val Pow52 = 4503599627370496L // 2^52

  /** q74: distinct-user estimate per event_type — register table folded
    * to (n_regs, intsum), raw HLL estimate, exact truth alongside. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame =
    hllDistinct(Tables.events(s, dir))

  /** The (event_type, j, mj) register table — a grouped MAX aggregate,
    * which is exactly the state a streaming update-mode query maintains:
    * the table is ≤ m rows per group forever, and MAX is monotone, so
    * the stream sketch equals the batch sketch on the same events
    * (StreamingSpec proves it). */
  def registerTable(events: DataFrame): DataFrame = {
    // NULL keys excluded on both sides (same rule as the CMS/bloom ops:
    // the two engines disagree on null concat semantics)
    // register = low 8 bits; rank = trailing zeros of the next 52 bits
    // + 1, bounded by OR-ing in bit 51 — tz via bit_count((x&-x)-1),
    // which both engines compute identically on BIGINT
    events.filter(col("user_id").isNotNull)
      .select(col("event_type"),
        TextAnalysis.md5Long(
          concat_ws(":", lit("hll"), col("user_id").cast("string"))).as("h"))
      .select(col("event_type"),
        col("h").bitwiseAND(lit(255L)).as("j"),
        expr("shiftright(h, 8) | CAST(2251799813685248 AS BIGINT)").as("x"))
      .select(col("event_type"), col("j"),
        expr("bit_count((x & -x) - 1) + 1").as("rank"))
      .groupBy(col("event_type"), col("j"))
      .agg(max(col("rank")).as("mj"))
  }

  def hllDistinct(events: DataFrame): DataFrame = {
    val keyed = events.filter(col("user_id").isNotNull)
    val regs = registerTable(events)
    val sk = regs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nr"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($WBits - mj AS INT))")).as("sp"))
      .select(col("event_type"), col("nr").cast("long").as("n_hll_regs"),
        (col("sp") + (lit(M.toLong) - col("nr")) * lit(Pow52)).as("hll_intsum"))
    val tru = keyed.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("true_distinct"))
    // raw estimate alpha_m * m^2 / S with S = intsum / 2^52; constants
    // written as the same literals in the same association as the oracle
    sk.join(tru, Seq("event_type"))
      .select(col("event_type"), col("n_hll_regs"), col("hll_intsum"),
        round(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
          * lit(65536.0) * lit(4.503599627370496e15)
          / col("hll_intsum").cast("double"), 3).as("est_r"),
        col("true_distinct").cast("long").as("true_distinct"))
      .orderBy(col("event_type").asc_nulls_last)
  }

  /** q74 oracle: identical hash, register split, rank bit-trick, exact
    * integer register sum, and float-literal association. */
  def hllOracleSql: String =
    s"""WITH k AS (SELECT event_type, user_id,
       |    CAST(('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM events WHERE user_id IS NOT NULL),
       |r AS (SELECT event_type, h & 255 AS j,
       |    bit_count((((h >> 8) | 2251799813685248) & -((h >> 8) | 2251799813685248)) - 1) + 1 AS rank
       |  FROM k),
       |m AS (SELECT event_type, j, MAX(rank) AS mj FROM r GROUP BY 1, 2),
       |sk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hll_regs,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST($WBits - mj AS INTEGER)) AS BIGINT)
       |      + ($M - COUNT(*)) * $Pow52 AS hll_intsum
       |  FROM m GROUP BY 1),
       |t AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
       |SELECT sk.event_type, sk.n_hll_regs, sk.hll_intsum,
       |  ROUND(0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0)
       |    * 65536.0e0 * 4503599627370496.0e0
       |    / CAST(sk.hll_intsum AS DOUBLE), 3) AS est_r,
       |  t.true_distinct
       |FROM sk JOIN t USING (event_type) ORDER BY event_type""".stripMargin

  /** q120: trailing-3-hour distinct-user estimates per hour, computed
    * by MERGING the hourly HLL register tables — the reason sketches
    * exist at 100 TB: the raw events aggregate ONCE into ≤ m-row
    * hourly registers, and every window after that is register-wise
    * MAX over sketch-sized data (each register row replicates to the
    * ≤ 3 window-ends it serves). A raw re-scan per window would read
    * the corpus W times; the sketch path reads it once — the same
    * merge that unions per-partition or per-day sketches for free.
    *
    * `true_distinct` rides along as the verification column (the q74
    * stance): the oracle value-checks the merged registers through the
    * exact dyadic intsum AND the window truth; at scale you drop the
    * truth column, it is the expensive one. Windows are the OBSERVED
    * hours only (left-semi on the hour set); NULL user/ts excluded as
    * in every sketch op. */
  def hllWindowDistinct(s: SparkSession, dir: String): DataFrame =
    hllWindowDistinct(Tables.events(s, dir))

  /** (user_id, hour) with the NULL rule applied — shared base. */
  private def hourKeyed(events: DataFrame): DataFrame =
    events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"))

  /** The ≤3 trailing window ends an hour's registers serve. */
  private def windowEnds(c: Column): Column =
    explode(array((0 to 2).map(k => c + expr(s"INTERVAL $k HOUR")): _*))

  /** (hour, j, rank) — the per-event register contribution. */
  private def hourRanks(keyed: DataFrame): DataFrame =
    keyed
      .select(col("hour"), TextAnalysis.md5Long(
        concat_ws(":", lit("hll"), col("user_id").cast("string"))).as("h"))
      .select(col("hour"), col("h").bitwiseAND(lit(255L)).as("j"),
        expr("shiftright(h, 8) | CAST(2251799813685248 AS BIGINT)").as("x"))
      .select(col("hour"), col("j"), expr("bit_count((x & -x) - 1) + 1").as("rank"))

  /** q120's merged (wh, j, mj) register table, batch form: aggregate
    * hourly registers FIRST, then replicate the sketch-sized table to
    * its window ends and MAX-merge — observed hours only. */
  private[graft] def mergedWindowRegisters(events: DataFrame): DataFrame = {
    val keyed = hourKeyed(events)
    val regs = hourRanks(keyed)
      .groupBy(col("hour"), col("j")).agg(max(col("rank")).as("mj"))
    val hours = keyed.select(col("hour")).distinct()
    regs
      .select(windowEnds(col("hour")).as("wh"), col("j"), col("mj"))
      .join(hours.select(col("hour").as("wh")), Seq("wh"), "left_semi")
      .groupBy(col("wh"), col("j")).agg(max(col("mj")).as("mj"))
  }

  def hllWindowDistinct(events: DataFrame): DataFrame = {
    val keyed = hourKeyed(events)
    val merged = mergedWindowRegisters(events)
    val sk = merged.groupBy(col("wh"))
      .agg(count(lit(1)).as("nr"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($WBits - mj AS INT))")).as("sp"))
      .select(col("wh"), col("nr").cast("long").as("n_hll_regs"),
        (col("sp") + (lit(M.toLong) - col("nr")) * lit(Pow52)).as("hll_intsum"))
    val hours = keyed.select(col("hour")).distinct()
    val tru = keyed
      .select(windowEnds(col("hour")).as("wh"), col("user_id"))
      .join(hours.select(col("hour").as("wh")), Seq("wh"), "left_semi")
      .groupBy(col("wh")).agg(countDistinct(col("user_id")).as("true_distinct"))
    sk.join(tru, Seq("wh"))
      .select(col("wh").as("window_end_hour"), col("n_hll_regs"), col("hll_intsum"),
        round(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
          * lit(65536.0) * lit(4.503599627370496e15)
          / col("hll_intsum").cast("double"), 3).as("est_r"),
        col("true_distinct").cast("long").as("true_distinct"))
      .orderBy("window_end_hour")
  }

  /** q120 oracle: identical registers, replicate-and-MAX merge over
    * observed window ends, dyadic intsum, float-literal association,
    * exact window truth. */
  def hllWindowOracleSql: String =
    s"""WITH k AS (SELECT date_trunc('hour', ts) AS hour, user_id,
       |    CAST(('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |r AS (SELECT hour, h & 255 AS j,
       |    bit_count((((h >> 8) | 2251799813685248) & -((h >> 8) | 2251799813685248)) - 1) + 1 AS rank
       |  FROM k),
       |m AS (SELECT hour, j, MAX(rank) AS mj FROM r GROUP BY 1, 2),
       |hrs AS (SELECT DISTINCT hour FROM k),
       |rep AS (SELECT m.hour + INTERVAL (t.o) HOUR AS wh, j, mj
       |  FROM m CROSS JOIN (SELECT unnest([0, 1, 2]) AS o) t),
       |mg AS (SELECT wh, j, MAX(mj) AS mj FROM rep
       |  WHERE wh IN (SELECT hour FROM hrs) GROUP BY 1, 2),
       |sk AS (SELECT wh, CAST(COUNT(*) AS BIGINT) AS n_hll_regs,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST($WBits - mj AS INTEGER)) AS BIGINT)
       |      + ($M - COUNT(*)) * $Pow52 AS hll_intsum
       |  FROM mg GROUP BY 1),
       |tru AS (SELECT wh, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
       |  FROM (SELECT k.hour + INTERVAL (t.o) HOUR AS wh, user_id
       |    FROM k CROSS JOIN (SELECT unnest([0, 1, 2]) AS o) t)
       |  WHERE wh IN (SELECT hour FROM hrs) GROUP BY 1)
       |SELECT sk.wh AS window_end_hour, sk.n_hll_regs, sk.hll_intsum,
       |  ROUND(0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0)
       |    * 65536.0e0 * 4503599627370496.0e0
       |    / CAST(sk.hll_intsum AS DOUBLE), 3) AS est_r,
       |  tru.true_distinct
       |FROM sk JOIN tru ON tru.wh = sk.wh ORDER BY window_end_hour""".stripMargin
}
