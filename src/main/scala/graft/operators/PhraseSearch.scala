package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ArtifactStore.{readTable, writeTable}
import graft.Tables

/** q194: exact phrase search through a PERSISTED positional postings
  * index — the positional member of the lexical-search family (q60
  * scan-scores BM25, q109 serves conjunctive bag-of-words lookups;
  * phrase queries are the third production shape, the reference UI's
  * quoted-search semantics over `app.py:120-140`'s text panels).
  * A phrase match is a conjunctive match with ADJACENCY: term i of the
  * phrase at position p+i for one start p, which bag-of-words postings
  * cannot express — the index must carry positions.
  *
  * Build once per source dir ([[graft.ArtifactStore]], q109's key
  * contract): posexplode documents to (term, doc_id, pos) rows —
  * 1-based positions — written `partitionBy(bucket)` under q109's
  * md5-derived term bucketing, hot buckets spread by doc_id range.
  *
  * Lookup: phrase terms' buckets are computed DRIVER-SIDE from the
  * literals, so the scan reads only those partition dirs
  * (`PartitionFilters: bucket IN (…)`, pinned by PhraseSearchSpec);
  * each term's arm normalizes its positions to the would-be phrase
  * START (pos − offset), and the k arms equi-join on (doc_id, start) —
  * an occurrence survives iff every term sits at its offset. Per-doc
  * rollup (n_occ, first_pos), bounded top-[[TopN]].
  *
  * Scale notes: the index build is one posexplode + one
  * postings-volume shuffle, identical cost class to q109's build plus
  * one long per row. Lookups never touch the corpus: IO is the
  * queried terms' list sizes (partition-pruned), the adjacency joins
  * are equi-joins on (doc_id, start) over those lists (AQE splits a
  * stopword-hot arm; q109's rarest-first semi-join chain composes
  * here unchanged when a phrase mixes a stopword with rare terms),
  * and the rollup output is ≤ the rarest term's df. */
object PhraseSearch {

  /** The fixed gate phrase — both words also members of q60/q109's
    * [[Search.Terms]], so all three lexical operators stay directly
    * comparable on shared vocabulary. */
  val Phrase: Seq[String] = Seq("spark", "join")
  val TopN = 20

  private def bucketCol(term: Column): Column =
    pmod(TextAnalysis.md5Long(term), lit(PostingsIndex.NumBuckets.toLong))

  /** The positional index write — exposed for specs over planted
    * corpora. 1-based positions (the oracle's generate_series base). */
  private[graft] def buildPosIndex(docs: DataFrame, staging: String): Unit =
    writeTable(docs.filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(TextAnalysis.words(col("text"))).as(Seq("pos0", "term")))
      .select(col("term"), col("doc_id"), (col("pos0") + 1).cast("long").as("pos"))
      .withColumn("bucket", bucketCol(col("term")))
      .repartition(col("bucket"), col("doc_id") % 8), staging, "bucket")

  /** Build (or reuse) the positional postings artifact for `dir`. */
  def ensurePosIndex(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    graft.ArtifactStore.ensureCurrent(s, "postings_pos_v1",
      Tables.dirFingerprint(s, dir,
        s"postings-pos;ws-tokens;b=${PostingsIndex.NumBuckets};${docs.schema.catalogString}")) { staging =>
      buildPosIndex(docs, staging)
    }
  }

  /** q194: docs containing [[Phrase]] as adjacent tokens — (doc_id,
    * n_occ, first_pos), top-20 by occurrences then doc_id. */
  def phraseSearch(s: SparkSession, dir: String): DataFrame =
    lookupPhrase(s, ensurePosIndex(s, dir), Phrase)

  private[graft] def lookupPhrase(s: SparkSession, path: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty)
    val idx = readTable(s, path)
    val arms = phrase.zipWithIndex.map { case (t, i) =>
      idx.filter(col("bucket") === lit(PostingsIndex.bucketOf(t)) &&
          col("term") === lit(t))
        .select(col("doc_id"), (col("pos") - lit(i.toLong)).as("start"))
    }
    arms.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occ"), min(col("start")).as("first_pos"))
      .orderBy(col("n_occ").desc, col("doc_id"))
      .limit(TopN)
  }

  /** q194 oracle: tokenize in SQL, check every phrase offset at every
    * start via positional list access, identical rollup and cut. */
  def phraseSearchOracleSql: String = {
    val k = Phrase.length
    val conds = Phrase.zipWithIndex
      .map { case (t, i) => s"ws[i + $i] = '$t'" }.mkString(" AND ")
    s"""WITH w AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |p AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM w),
       |occ AS (SELECT doc_id, CAST(i AS BIGINT) AS strt FROM p
       |  WHERE i + ${k - 1} <= len(ws) AND $conds)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  CAST(MIN(strt) AS BIGINT) AS first_pos
       |FROM occ GROUP BY 1
       |ORDER BY n_occ DESC, doc_id LIMIT $TopN""".stripMargin
  }
}
