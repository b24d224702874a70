package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ArtifactStore.{readTable, writeTable}
import graft.Tables

/** Frequent-itemset / association-rule mining (Agrawal & Srikant 1994,
  * "Fast Algorithms for Mining Association Rules" — the a-priori
  * family), the market-basket analysis a curation dashboard runs over
  * co-occurring facets; the reference's gallery facets
  * (app.py's material/technique panels) are exactly such itemsets
  * browsed one at a time. Baskets are orders; items are the part
  * BRANDS an order touches (a small dense domain — pair statistics are
  * meaningful where raw partkey pairs at TPC-H uniformity are noise).
  *
  * The plan IS the a-priori pruning argument, staged for scale:
  *   1. basket→item pairs, DISTINCT (one shuffle on the basket key);
  *   2. frequent 1-itemsets (support ≥ [[scaledMinSup]]) — item-domain-sized,
  *      broadcast back as a semi-join: the downward-closure property
  *      says no pair with an infrequent member can be frequent, so
  *      infrequent items never reach pair generation;
  *   3. per-basket pair generation via a self-join ON the basket key —
  *      co-partitioned, no cross-basket pairs ever materialize; the
  *      per-basket width is capped by the FREQUENT-item domain, which
  *      is what bounds the O(Σ k²) blowup at 100 TB (the classic
  *      a-priori candidate bound);
  *   4. pair counts (one shuffle on the pair key, map-side combined) +
  *      confidence/lift from the broadcast 1-row basket total.
  *
  * Determinism: every statistic is an integer count until ONE final
  * rounded division (conf = sup/n_a; lift = sup·N/(n_a·n_b) with exact
  * integer-in-double products) — both engines agree bitwise. NULL
  * brands are filtered explicitly on both sides. */
object Itemsets {

  /** Base (minimum) support for co-occurrence edges/pairs: a single
    * shared basket is never a relationship. */
  val BaseSup = 2

  /** Density rung of the support ladder: support doubles each time the
    * average basket-memberships PER ITEM exceed this × support. On a
    * catalog that grows with the fact table (TPC-H-like: rows/items ≈
    * constant ~30) the ladder never moves, so gate values are stable
    * across SF; on a FIXED catalog where orders keep arriving, support
    * scales with density and the pair/edge set stays bounded instead of
    * densifying toward items² (the round-9 verdict's q208/q189 concern:
    * a fixed support-2 is exactly the class of constant — df cap, LSH
    * bits, nlist — that rounds 8-9 kept re-paying). */
  val SupDensity = 64

  /** Ladder cap — beyond this, relative-support mining (a σ·N fraction)
    * is the right tool, not an absolute count. Power of two so the
    * doubling lands exactly on it. */
  val MaxSup = 4096

  /** Density-scaled minimum support: doubles from [[BaseSup]] while
    * nRows > [[SupDensity]]·s·nItems, capped at [[MaxSup]]. Re-derived
    * verbatim in oracle SQL by [[scaledMinSupSql]] from the SAME two
    * counts, so both engines agree at any corpus size. */
  def scaledMinSup(nRows: Long, nItems: Long): Int = {
    var s = BaseSup
    while (s < MaxSup && nRows > SupDensity.toLong * s * math.max(nItems, 1L)) s *= 2
    s
  }

  /** SQL twin of [[scaledMinSup]]: the same integer CASE ladder over
    * caller-supplied scalar expressions for the two counts (pass 1-row
    * MATERIALIZED-CTE lookups so the base relation is scanned once). */
  def scaledMinSupSql(rowsExpr: String, itemsExpr: String): String = {
    val arms = Iterator.iterate(BaseSup.toLong)(_ * 2).takeWhile(_ < MaxSup)
      .map(s => s"WHEN $rowsExpr <= $SupDensity * $s * GREATEST($itemsExpr, 1) THEN $s")
      .mkString(" ")
    s"(CASE $arms ELSE $MaxSup END)"
  }

  /** Build-once distinct (basket = l_orderkey, item = l_partkey) frame
    * shared by q189 (brand affinity, after a broadcast brand remap) and
    * q208 (common neighbors) — round-11 verdict item 3: both paid the
    * same ~60M-row fact scan + distinct shuffle at sf10 (~14 % of the
    * campaign) twice. The artifact is SUPPORT-FREE (each consumer
    * derives its own [[scaledMinSup]] ladder from the frame's own
    * stats), so the fingerprint is the source-dir fingerprint alone —
    * no derivation constants can change its contents. NULL baskets and
    * items are PRESERVED: each consumer filters or joins them away
    * exactly where its oracle does, so engine results stay
    * bit-identical on the null-injected fixtures. */
  def basketItemsPath(s: SparkSession, dir: String): String =
    graft.ArtifactStore.ensureCurrent(s, "basket_items_v1",
      Tables.dirFingerprint(s, dir)) { staging =>
      writeTable(Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
        .distinct(), staging)
    }

  /** Brand-level distinct (basket, item = p_brand) frame derived from
    * [[basketItemsPath]] — q189's four-consumer input, materialized
    * once per source dir. Brand-free of derivation constants (the
    * support ladder applies downstream), so the source-dir fingerprint
    * suffices. The parquet artifact plays the old DISK_ONLY
    * checkpoint's role: each consumer re-scans the slim columnar frame
    * instead of locking the storage half of the unified pool. */
  def brandItemsPath(s: SparkSession, dir: String): String =
    graft.ArtifactStore.ensureCurrent(s, "brand_items_v1",
      Tables.dirFingerprint(s, dir)) { staging =>
      writeTable(readTable(s, basketItemsPath(s, dir))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("item") === col("p_partkey"))
        .where(col("p_brand").isNotNull)
        .select(col("basket"), col("p_brand").as("item"))
        .distinct(), staging)
    }

  /** q189: all frequent brand pairs with support, directional
    * confidences, and lift. The (s, dir) entry reads the shared
    * [[brandItemsPath]] artifact — steady-state daily runs skip the
    * fact scan, brand remap, and both distinct shuffles entirely. */
  def brandAffinity(s: SparkSession, dir: String): DataFrame =
    affinityChain(readTable(s, brandItemsPath(s, dir)))

  def brandAffinity(lineitem: DataFrame, part: DataFrame): DataFrame =
    affinityChain(
      lineitem.select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .where(col("p_brand").isNotNull)
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
        .distinct()
        // four consumers (basket total, frequent-1, both self-join
        // arms) — materialized so the fact scan + distinct shuffle run
        // ONCE. DISK_ONLY (round 10): at 100× the bench SF this frame
        // is ~57M rows; cached in memory it locks the storage half of
        // the unified pool and starves the self-join's aggregates into
        // AGGREGATE_OUT_OF_MEMORY (the r9c build-pass flake, reproduced
        // isolated that round). Sequential disk re-reads of a slim
        // frame are cheap; execution memory is the scarce resource.
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY))

  /** The staged a-priori chain over a materialized distinct
    * (basket, item) frame: frequent-1 prune → co-partitioned basket
    * self-join → map-combined pair counts. */
  private def affinityChain(items: DataFrame): DataFrame = {
    // density-scaled support (two cheap aggregates on the materialized
    // frame)
    val st = items.agg(count(lit(1)).as("nr"),
      countDistinct(col("item")).as("ni")).first()
    val minSup = scaledMinSup(st.getLong(0), st.getLong(1))
    val nb = items.agg(countDistinct(col("basket")).as("n_baskets"))
    val freq = items.groupBy(col("item"))
      .agg(count(lit(1)).as("n_item"))
      .where(col("n_item") >= minSup.toLong)
    val pruned = items.join(broadcast(freq), Seq("item"))
    val a = pruned.select(col("basket"), col("item").as("item_a"),
      col("n_item").as("n_a"))
    val b = pruned.select(col("basket"), col("item").as("item_b"),
      col("n_item").as("n_b"))
    a.join(b, Seq("basket"))
      .where(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSup.toLong)
      .crossJoin(broadcast(nb))
      .select(col("item_a"), col("item_b"), col("support"),
        col("n_a"), col("n_b"), col("n_baskets"),
        round(col("support").cast("double") / col("n_a"), 9).as("conf_ab_r"),
        round(col("support").cast("double") / col("n_b"), 9).as("conf_ba_r"),
        round(col("support").cast("double") * col("n_baskets") /
          (col("n_a").cast("double") * col("n_b")), 9).as("lift_r"))
      .orderBy(col("item_a").asc_nulls_last, col("item_b").asc_nulls_last)
  }

  /** q189 oracle: the identical staged chain, the support ladder
    * re-derived from the same (rows, items) counts. */
  def brandAffinityOracleSql: String = {
    val msSql = scaledMinSupSql("(SELECT nr FROM st)", "(SELECT ni FROM st)")
    s"""WITH items AS MATERIALIZED (
       |  SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE p.p_brand IS NOT NULL),
       |st AS MATERIALIZED (SELECT COUNT(*) AS nr, COUNT(DISTINCT item) AS ni
       |  FROM items),
       |ms AS MATERIALIZED (SELECT $msSql AS v),
       |nb AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM items),
       |freq AS (SELECT item, COUNT(*) AS n_item FROM items
       |  GROUP BY item HAVING COUNT(*) >= (SELECT v FROM ms)),
       |pruned AS (SELECT i.basket, i.item, f.n_item
       |  FROM items i JOIN freq f USING (item)),
       |pairs AS (SELECT a.item AS item_a, b.item AS item_b,
       |    a.n_item AS n_a, b.n_item AS n_b, COUNT(*) AS support
       |  FROM pruned a JOIN pruned b
       |    ON a.basket = b.basket AND a.item < b.item
       |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= (SELECT v FROM ms))
       |SELECT item_a, item_b, support, n_a, n_b, nb.n_baskets,
       |  ROUND(CAST(support AS DOUBLE) / n_a, 9) AS conf_ab_r,
       |  ROUND(CAST(support AS DOUBLE) / n_b, 9) AS conf_ba_r,
       |  ROUND(CAST(support AS DOUBLE) * nb.n_baskets /
       |    (CAST(n_a AS DOUBLE) * n_b), 9) AS lift_r
       |FROM pairs CROSS JOIN nb
       |ORDER BY item_a, item_b""".stripMargin
  }
}
