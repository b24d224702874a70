package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Gold→serving export shaping (curated_to_postgres.py:27-75): JSON
  * payload parse to typed columns, timestamp formatting, final
  * select/cast into the serving schema. Pure narrow projection — no
  * shuffle; at 100 TB this is bounded by JDBC sink parallelism, not the
  * plan. */
object Serving {

  /** Faceted-search filter spec (app.py:120-140 builds WHERE clauses
    * from equality / IN-list / array-contains selections). */
  sealed trait Facet
  final case class Eq(column: String, value: Any) extends Facet
  final case class In(column: String, values: Seq[Any]) extends Facet
  final case class ArrayContains(column: String, value: Any) extends Facet

  /** Dashboard faceted search: AND of the selected facets, as pushable
    * predicates (equality and IN reach the parquet scan as
    * PushedFilters; array_contains evaluates in the codegen'd filter). */
  def facetSearch(df: DataFrame, facets: Seq[Facet]): DataFrame =
    facets.foldLeft(df) {
      case (d, Eq(c, v)) => d.filter(col(c) === lit(v))
      case (d, In(c, vs)) => d.filter(col(c).isin(vs.map(lit): _*))
      case (d, ArrayContains(c, v)) => d.filter(array_contains(col(c), lit(v)))
    }

  /** q55: representative dashboard search — equality + IN-list +
    * array-contains facets ANDed over the documents table, the exact
    * WHERE-builder shape of app.py:120-140. Equality and IN push down to
    * the parquet scan; array_contains runs in the codegen'd filter. */
  def facetSearchQ(s: SparkSession, dir: String): DataFrame =
    facetSearch(
      Tables.documents(s, dir).withColumn("words", split(col("text"), " ")),
      Seq(Eq("lang", "en"),
        In("source", Seq("src1", "src2", "src3", "src4", "src5")),
        ArrayContains("words", "data")))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  val facetSearchOracleSql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE lang = 'en' AND source IN ('src1','src2','src3','src4','src5')
      |  AND list_contains(string_split(text, ' '), 'data')
      |ORDER BY doc_id""".stripMargin

  /** q38: filtered grouped count-distinct (app.py:140 COUNT(DISTINCT
    * guid) under facet filters). Distinct-within-group is the expensive
    * dashboard aggregate at scale — Spark plans it as a two-phase
    * (partial per-key distinct, then merge), no driver-side set. */
  def countDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value") > 5.0)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type").asc_nulls_last)

  /** q39: deterministic sample pagination — the dashboard's seeded
    * ORDER BY RANDOM() LIMIT/OFFSET page (app.py:120,147) re-expressed
    * as a hash order, which is reproducible on any engine and any
    * cluster size (a seeded RNG is not). */
  def samplePaginate(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit(":seed42"))).as("page_key"))
      .orderBy(col("page_key"), col("doc_id"))
      .offset(50).limit(25)

  /** q18: serving export shape over the events table. */
  def servingExport(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        upper(col("event_type")).as("event_type"),
        col("value").cast("decimal(12,2)").cast("double").as("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  /** q119: related-terms discovery — the "related searches / related
    * tags" panel (app.py:94-140's facet browse, upgraded from counts
    * to associations): each doc contributes its top-5 SALIENT terms
    * (distinct all-lowercase words of ≥ 5 chars, ranked longest-first
    * then lexicographic — a deterministic, cross-engine total order),
    * term pairs co-occurring in a doc aggregate corpus-wide, and the
    * top-20 pairs ship with doc frequencies and LIFT
    * (c12·N / (c1·c2) — association strength normalized for term
    * popularity).
    *
    * Scale-honest by the per-doc cap: ≤ 5 terms ⇒ ≤ 10 pairs per doc
    * regardless of doc length, so the pair stream grows linearly with
    * the corpus — the unbounded per-doc word-pair explosion (O(w²))
    * never happens. The length-desc/lex-asc cut is expressed as ONE
    * sortable string key (lpad(999−len) ∥ word), identical in both
    * engines; ASCII-only terms by construction so byte and char
    * orders agree. Counts and products are exact integers; lift is
    * one IEEE division, rounded.
    *
    * Scale notes: all narrow until the two count shuffles (term,
    * pair); the doc-count and term-count tables broadcast back; top-20
    * is a bounded TakeOrdered with a total (c12 desc, w1, w2) order. */
  def relatedTerms(s: SparkSession, dir: String): DataFrame =
    relatedTerms(graft.Tables.documents(s, dir))

  def relatedTerms(docs: DataFrame): DataFrame = {
    val sel = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(array_distinct(TextAnalysis.words(col("text"))),
          w => w.rlike("^[a-z]{5,}$")).as("ws"))
      .select(col("doc_id"),
        transform(
          slice(array_sort(transform(col("ws"),
            w => concat(lpad((lit(999) - length(w)).cast("string"), 3, "0"), w))),
            1, 5),
          k => substring(k, 4, 999)).as("ts"))
      .where(size(col("ts")) > 0)
    val inc = sel.select(col("doc_id"), explode(col("ts")).as("term"))
    val nDocs = sel.agg(count(lit(1)).as("n_docs"))
    val tc = inc.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val pc = sel.select(col("doc_id"), explode(col("ts")).as("a"), col("ts"))
      .select(col("doc_id"), col("a"), explode(col("ts")).as("b"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c12"))
    pc.join(tc.select(col("term").as("a"), col("c").as("c1")), Seq("a"))
      .join(tc.select(col("term").as("b"), col("c").as("c2")), Seq("b"))
      .crossJoin(broadcast(nDocs))
      .select(col("a").as("w1"), col("b").as("w2"), col("c12"),
        col("c1"), col("c2"),
        round((col("c12") * col("n_docs")).cast("double") /
          (col("c1") * col("c2")).cast("double"), 9).as("lift_r"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** q119 oracle: same salient-term cut (shared string key), pair and
    * term counts, exact-integer lift numerators. */
  def relatedTermsOracleSql: String =
    """WITH s0 AS (SELECT doc_id,
      |  list_filter(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')),
      |    x -> regexp_full_match(x, '[a-z]{5,}')) AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |s1 AS (SELECT doc_id,
      |  list_transform(
      |    list_sort(list_transform(ws,
      |      w -> lpad(CAST(999 - strlen(w) AS VARCHAR), 3, '0') || w))[1:5],
      |    k -> k[4:]) AS ts FROM s0),
      |sel AS (SELECT doc_id, ts FROM s1 WHERE len(ts) > 0),
      |inc AS (SELECT doc_id, unnest(ts) AS term FROM sel),
      |nn AS (SELECT COUNT(*) AS n_docs FROM sel),
      |tc AS (SELECT term, COUNT(*) AS c FROM inc GROUP BY term),
      |pc AS (SELECT a.term AS w1, b.term AS w2, COUNT(*) AS c12
      |  FROM inc a JOIN inc b ON a.doc_id = b.doc_id AND a.term < b.term
      |  GROUP BY a.term, b.term)
      |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
      |  CAST(t1.c AS BIGINT) AS c1, CAST(t2.c AS BIGINT) AS c2,
      |  ROUND(CAST(c12 * n_docs AS DOUBLE) / CAST(t1.c * t2.c AS DOUBLE), 9) AS lift_r
      |FROM pc JOIN tc t1 ON t1.term = pc.w1 JOIN tc t2 ON t2.term = pc.w2
      |CROSS JOIN nn
      |ORDER BY c12 DESC, w1, w2 LIMIT 20""".stripMargin

  /** Leaderboard depth for [[wilsonRank]]. */
  val WilsonTopN = 50

  /** q172: engagement leaderboard ranked by the Wilson score lower bound
    * (Wilson 1927; the "how not to sort by average rating" correction) —
    * raw click-through rate ranks a 1-for-1 user above a 95-for-100 one;
    * the 95 % Wilson lower bound penalizes small samples exactly as far
    * as binomial uncertainty warrants, which is why it is the standard
    * UGC sort key. Ranked here per user over click/view events — the
    * leaderboard form of the reference's per-user activity panels
    * (streamlit/app/app.py:84-140).
    *
    * Engine-exact: (successes, trials) are exact integers; the Wilson
    * chain (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²))/(1 + z²/n) is one
    * fixed-order IEEE expression over them, written token-for-token in
    * both engines with z entering as the literal 1.96 (identical parsed
    * double) and z² always spelled 1.96·1.96; ranking orders by the
    * ROUNDED bound (ties → user_id) so the sort key is a value the gate
    * already proves equal.
    *
    * Scale notes: one map-combined conditional aggregate to |users|
    * rows; the leaderboard is a bounded TakeOrdered over that rollup.
    * The unpartitioned rank window never sees raw events. */
  def wilsonRank(s: SparkSession, dir: String): DataFrame =
    wilsonRank(graft.Tables.events(s, dir))

  def wilsonRank(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    def d(c: Column) = c.cast("double")
    val agg = events
      .filter(col("user_id").isNotNull &&
        col("event_type").isin("click", "view"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("s"),
        count(lit(1)).as("n"))
    val nD = d(col("n"))
    val p = d(col("s")) / nD
    val z2 = lit(1.96) * lit(1.96)
    val lb = (p + z2 / (lit(2.0) * nD)
      - lit(1.96) * sqrt(p * (lit(1.0) - p) / nD + z2 / (lit(4.0) * nD * nD))) /
      (lit(1.0) + z2 / nD)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("wilson_lb_r").desc, col("user_id"))
    agg
      .withColumn("ctr_r", round(p, 6))
      .withColumn("wilson_lb_r", round(lb, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= WilsonTopN)
      .select(col("user_id"), col("n").as("n_trials"), col("s").as("n_clicks"),
        col("ctr_r"), col("wilson_lb_r"), col("rank"))
      .orderBy("rank")
  }

  /** q172 oracle: the identical Wilson chain over the same integers. */
  def wilsonRankOracleSql: String =
    s"""WITH a AS (SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IN ('click', 'view')
      |  GROUP BY 1),
      |k AS (SELECT user_id, n, s,
      |    ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS ctr_r,
      |    ROUND((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |        + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
      |        - 1.96 * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |            * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
      |          + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
      |      / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS wilson_lb_r
      |  FROM a),
      |r AS (SELECT user_id, n AS n_trials, s AS n_clicks, ctr_r, wilson_lb_r,
      |    CAST(ROW_NUMBER() OVER (ORDER BY wilson_lb_r DESC, user_id) AS BIGINT) AS rank
      |  FROM k)
      |SELECT * FROM r WHERE rank <= $WilsonTopN ORDER BY rank""".stripMargin
}
