package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Greedy sequence packing — grouping documents into fixed token-budget
  * packs, the step that turns a curated corpus into dense training
  * sequences (unfilled context is wasted compute, so pretraining
  * pipelines pack documents back-to-back up to the context length).
  *
  * The pack assignment is greedy-sequential WITHIN a shard key (here:
  * `source`) and embarrassingly parallel ACROSS shards — the standard
  * at-scale shape: shard the corpus, pack each shard independently. The
  * per-shard scan is inherently order-dependent (each doc's pack depends
  * on every doc before it), so it runs as one `flatMapGroups` pass per
  * shard sorted by doc_id — the same legitimate per-group sequential
  * state pattern as sessionization, with memory bounded by shard size.
  */
object Packing {

  /** q48 token budget per pack: ~4-5 docs of the test corpus (docs run
    * 10-99 words). */
  val Budget = 256L

  case class DocTok(source: String, doc_id: Long, n_tokens: Long)
  case class Packed(source: String, doc_id: Long, n_tokens: Long,
    pack_id: Long, pack_pos: Long)

  /** q48: greedy pack per source — docs in doc_id order accumulate into
    * the current pack until the next one would exceed the budget, which
    * starts a new pack (a single doc larger than the budget gets a pack
    * of its own). Output: one row per doc with its (per-source, 1-based)
    * pack_id and position. */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(s, dir), Budget)

  def packSequences(docs: DataFrame, budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(
        coalesce(col("source"), lit("")).as("source"),
        col("doc_id"),
        // NULL text packs as zero tokens (oracle coalesces identically);
        // without this the non-nullable encoder field throws
        coalesce(size(TextAnalysis.words(col("text"))).cast("long"), lit(0L))
          .as("n_tokens"))
      .as[DocTok]
    toks.groupByKey(_.source)
      .flatMapGroups { (src, it) =>
        var acc = 0L
        var pack = 0L
        var pos = 0L
        it.toArray.sortBy(_.doc_id).iterator.map { d =>
          if (pack == 0L || acc + d.n_tokens > budget) { pack += 1; acc = d.n_tokens; pos = 1 }
          else { acc += d.n_tokens; pos += 1 }
          Packed(src, d.doc_id, d.n_tokens, pack, pos)
        }
      }
      .toDF()
      .orderBy("source", "doc_id")
  }

  /** q185: packing-efficiency audit — the readout a q48 rollout is
    * judged on: per source the pack count, padding waste, and fill
    * efficiency (Σ tokens / (packs × budget)); `n_oversize` counts the
    * single-doc packs that EXCEED the budget (they truncate or stream
    * at train time, so they are their own line item; their pad is 0,
    * never negative). Dense packing is the whole point of q48 —
    * unfilled context is wasted compute — and this is the operator
    * that says whether the greedy scan actually achieves it per
    * source, or a source's length mix needs a different budget.
    *
    * Scale notes: runs OVER the q48 assignment (same per-source
    * `flatMapGroups` scan), then two map-side-combined aggregates —
    * (source, pack) sized, then |sources| sized. All counters exact
    * integers; ONE final IEEE division per source. */
  def packingEfficiency(s: SparkSession, dir: String): DataFrame =
    packingEfficiency(Tables.documents(s, dir), Budget)

  def packingEfficiency(docs: DataFrame, budget: Long): DataFrame = {
    val packs = packSequences(docs, budget)
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("used"))
    packs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("used")).as("sum_tokens"),
        sum(greatest(lit(0L), lit(budget) - col("used"))).as("pad_tokens"),
        sum(when(col("used") > budget, 1L).otherwise(0L)).as("n_oversize"))
      .withColumn("eff_r",
        round(col("sum_tokens").cast("double")
          / (col("n_packs").cast("double") * lit(budget.toDouble)), 6))
      .orderBy("source")
  }

  /** q185 oracle: the q48 recursive chain rolled up per (source, pack)
    * then per source, identical pad/efficiency arithmetic. */
  def packingEfficiencyOracleSql(budget: Long = Budget): String = {
    val base = packSequencesOracleSql(budget)
    val chain = base.substring(0, base.lastIndexOf("SELECT source, doc_id")).trim
    s"""$chain,
       |pk AS (SELECT source, pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS used
       |  FROM p GROUP BY source, pack_id)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_packs,
       |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(used) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(GREATEST(0, $budget - used)) AS BIGINT) AS pad_tokens,
       |  CAST(SUM(CASE WHEN used > $budget THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
       |  ROUND(CAST(SUM(used) AS DOUBLE) /
       |    (CAST(COUNT(*) AS DOUBLE) * ${budget}.0), 6) AS eff_r
       |FROM pk GROUP BY source ORDER BY source""".stripMargin
  }

  /** Generated DuckDB oracle for q48: the same greedy scan as a linear
    * recursive CTE stepping row_number+1 within each source. */
  def packSequencesOracleSql(budget: Long = Budget): String =
    s"""WITH RECURSIVE d AS (SELECT COALESCE(source, '') AS source, doc_id,
       |  COALESCE(CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT), 0) AS n_tokens,
       |  ROW_NUMBER() OVER (PARTITION BY COALESCE(source, '') ORDER BY doc_id) AS rn
       | FROM documents),
       |p AS (
       | SELECT source, doc_id, n_tokens, rn, n_tokens AS acc,
       |   CAST(1 AS BIGINT) AS pack_id, CAST(1 AS BIGINT) AS pack_pos
       | FROM d WHERE rn = 1
       | UNION ALL
       | SELECT d.source, d.doc_id, d.n_tokens, d.rn,
       |   CASE WHEN p.acc + d.n_tokens > $budget THEN d.n_tokens
       |        ELSE p.acc + d.n_tokens END,
       |   CASE WHEN p.acc + d.n_tokens > $budget THEN p.pack_id + 1
       |        ELSE p.pack_id END,
       |   CASE WHEN p.acc + d.n_tokens > $budget THEN CAST(1 AS BIGINT)
       |        ELSE p.pack_pos + 1 END
       | FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
       |SELECT source, doc_id, n_tokens, pack_id, pack_pos
       |FROM p ORDER BY source, doc_id""".stripMargin
}
