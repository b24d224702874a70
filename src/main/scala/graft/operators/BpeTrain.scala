package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ArtifactStore.{readTable, writeTable}
import graft.Tables

/** q110: distributed byte-level BPE merge training (Sennrich et al.
  * 2016; byte-level symbols as in GPT-2's tokenizer) — the actual
  * tokenizer-training loop, of which q76's bigram counts are only the
  * round-1 statistic.
  *
  * Shape: ONE corpus-sized shuffle builds the word histogram; every
  * merge round after that runs on the VOCABULARY table (≪ corpus —
  * this is why real BPE trainers operate on word histograms), as
  * narrow string expressions plus one vocab-sized pair-count shuffle;
  * the per-round argmax is a 1-row driver collect (bounded by
  * construction, the q63/q104 precedent). At 100 TB the corpus is
  * touched exactly once.
  *
  * Symbols are HEX-ENCODED UTF-8 BYTES ("43", "61", merged "4361"):
  * byte-level sidesteps every cross-engine Unicode divergence (Java
  * splits surrogate pairs, utf8proc doesn't — hex bytes are plain
  * ASCII in both), and it is what production BPE uses anyway. A word's
  * symbol sequence is a space-joined string; one merge round applies
  * the round's best pair (max summed count, ties by pair string — a
  * total order) to every word via a single-pass left-to-right scan
  * with a pending-symbol accumulator: textbook BPE greedy semantics,
  * including runs ("aaaa" under (a,a) → "aa aa"). The scan is the same
  * fold, expression for expression, in the engine (`aggregate` HOF,
  * string-encoded accumulator) and the oracle (DuckDB `list_reduce`) —
  * see [[bpeOracleSql]].
  *
  * Rounds stop early when no pair reaches [[MinPairCount]]; merging a
  * pair that appears once is pointless and a dried-up corpus stays
  * dried (counts are unchanged when no merge applies), so the engine's
  * break and the oracle's fixed [[Merges]]-round unroll agree.
  *
  * The trained tokenizer (merge table + final vocab) is a BUILD-ONCE
  * artifact ([[graft.ArtifactStore]]) — the gated entries train at
  * most once per source dir and serve reads after that; see the
  * persisted-tokenizer section below. */
object BpeTrain {

  val Merges = 64
  val MinPairCount = 2L

  /** The train loop localCheckpoints the vocab frame every this many
    * rounds: each round otherwise stacks one interpreted `aggregate`
    * HOF onto the plan, and a realistic 32k-merge tokenizer would build
    * an unanalyzable plan long before it ran out of data. The
    * checkpoint is vocab-sized (cheap); plan depth stays ≤ this bound
    * forever (BpeTrainSpec asserts it). */
  val CheckpointEvery = 4

  private val SEP = "\u0001"

  /** "Caf" → "43 61 66": UTF-8 bytes as space-joined hex symbols. */
  private def hexSeq(w: Column): Column =
    trim(regexp_replace(hex(w.cast("binary")), "(..)", "$1 "))

  /** Adjacent symbol pairs of a seq-string, as "L R" pair strings.
    * Pair-string lexicographic order equals (L, R) tuple order: every
    * symbol char is hex (> ' '), so the separator sorts first. */
  private def pairsCol(seqStr: Column): Column = {
    val arr = split(seqStr, " ")
    zip_with(slice(arr, lit(1), size(arr) - 1), slice(arr, lit(2), size(arr) - 1),
      (a, b) => concat(a, lit(" "), b))
  }

  /** One merge round applied to a seq-string: the pending-symbol scan.
    * Accumulator = "out<SEP>pending" (SEP = U+0001, never in a hex
    * symbol); init = empty out, empty pending. Match consumes the
    * pending L and the current R into out; otherwise pending flushes
    * to out and the current symbol becomes pending. Finish flushes. */
  private def mergeSeq(seqStr: Column, l: String, r: String): Column = {
    val merged = l + r
    def out(acc: Column) = substring_index(acc, SEP, 1)
    def pend(acc: Column) = substring_index(acc, SEP, -1)
    aggregate(
      split(seqStr, " "),
      lit(SEP),
      (acc, x) =>
        when(pend(acc) === l && x === lit(r),
          concat(out(acc), lit(" " + merged + SEP)))
        .otherwise(concat(
          when(pend(acc) === "", out(acc))
            .otherwise(concat(out(acc), lit(" "), pend(acc))),
          lit(SEP), x)),
      acc => trim(translate(acc, SEP, " ")))
  }

  // ------------------------------------------------------------------
  // Persisted tokenizer: a trained BPE is a BUILD-ONCE artifact (the
  // PQ-codebook/q72 pattern — nobody retrains a tokenizer per encode
  // call; GPT-2's merges.txt ships as a file). The gated (s, dir)
  // entries train at most once per (source × params) key and then
  // serve  path/merges.parquet  (merge_rank, lhs, rhs, merged, pair_count)
  //        path/vocab.parquet   (w, seq, cnt)  — the final vocab state
  // so q110 is a read of the merge table and q113 is the vocab-join
  // encode, with zero train rounds on the hot path.

  /** Bump when the stored schema or train semantics change. */
  private val LayoutVersion = "v1"

  /** Train into `staging`: the merge table (≤ [[Merges]] rows) and the
    * final vocab state (vocab-sized). An empty/dry corpus writes empty
    * tables — the read paths degenerate typed-empty. */
  private[graft] def buildBpe(docs: DataFrame, staging: String): Unit = {
    val spark = docs.sparkSession
    val (found, hist, vocab) = trainCore(docs)
    writeTable(spark.createDataFrame(found)
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      .coalesce(1), s"$staging/merges.parquet")
    writeTable(vocab.select(col("w"), col("seq"), col("cnt")), s"$staging/vocab.parquet")
    hist.unpersist()
  }

  /** Ensure the trained-tokenizer artifact for `dir`; returns its path. */
  private def ensureBpe(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    graft.ArtifactStore.ensureCurrent(s, s"bpe_$LayoutVersion",
      Tables.dirFingerprint(s, dir,
        s"bpe;merges=$Merges;minc=$MinPairCount;ws-tokens;${docs.schema.catalogString}")) {
      staging => buildBpe(docs, staging)
    }
  }

  /** q110 gated entry: serve the persisted merge table. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    val path = ensureBpe(s, dir)
    readTable(s, s"$path/merges.parquet")
      .orderBy("merge_rank")
  }

  /** The train loop, carrying the WORD through every round so the
    * final vocab state can serve encoding (q113): returns (merge list,
    * cached word histogram, final (w, seq, cnt) vocab). Callers that
    * only need the merges unpersist `hist`; the encode path keeps it
    * cached (vocab-sized, bounded) because the vocab is consumed
    * lazily downstream. */
  private[graft] def trainCore(docs: DataFrame, merges: Int = Merges):
      (Seq[(Long, String, String, String, Long)], DataFrame, DataFrame) = {
    // the one corpus-sized shuffle; everything after runs on the vocab
    val hist = docs
      .select(explode(TextAnalysis.words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), hexSeq(col("w")).as("seq"), col("cnt"))
      .cache()
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var cur = hist
    var done = false
    var round = 1
    while (!done && round <= merges) {
      val best = cur
        .select(explode(pairsCol(col("seq"))).as("pair"), col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
        .where(col("c") >= MinPairCount)
        .orderBy(col("c").desc, col("pair"))
        .limit(1).collect() // 1 row max — bounded by construction
      if (best.isEmpty) done = true
      else {
        val pair = best.head.getAs[String]("pair")
        val c = best.head.getAs[Long]("c")
        val Array(l, r) = pair.split(" ", 2)
        found += ((round.toLong, l, r, l + r, c))
        cur = cur.select(col("w"), mergeSeq(col("seq"), l, r).as("seq"), col("cnt"))
        // bound plan lineage: without this, round N's frame nests N
        // interpreted aggregate HOFs (SURVEY §6's CodegenFallback class)
        // and analysis cost grows per round without limit
        if (round % CheckpointEvery == 0) cur = cur.localCheckpoint()
        round += 1
      }
    }
    (found.toSeq, hist, cur)
  }

  def bpeMerges(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val (found, hist, _) = trainCore(docs)
    hist.unpersist()
    found.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** q113: tokenize the corpus with the trained merges — the apply
    * half of the tokenizer (q110 trains, this encodes). The corpus is
    * NEVER re-scanned per merge: encoding happens on the VOCABULARY
    * (each distinct word's final symbol seq → token count), and docs
    * join that table on the word — the same histogram trick real BPE
    * encoders use, so the per-doc cost is one explode + one vocab join
    * + one agg regardless of merge count.
    *
    * Output value-proves per-word token counts without an array
    * column: n_tokens (Σ tokens), n_bytes (Σ UTF-8 word bytes — the
    * bytes/token compression signal), and tok_hash (Σ (md5-hash(w)
    * mod 1000003) · tokens(w) — an order-independent exact integer
    * fold over the word MULTISET, so a wrong count on any word
    * breaks it). */
  def bpeEncode(s: SparkSession, dir: String): DataFrame =
    encodeWith(Tables.documents(s, dir),
      readTable(s, s"${ensureBpe(s, dir)}/vocab.parquet"))

  def bpeEncode(s: SparkSession, docs: DataFrame): DataFrame = {
    val (_, _, vocab) = trainCore(docs)
    encodeWith(docs, vocab)
  }

  /** The encode join, shared by the persisted and inline paths: docs
    * explode to words and join the (vocab-sized) token-count table. */
  private def encodeWith(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val vtok = vocab.select(col("w"),
      size(split(col("seq"), " ")).cast("long").as("n_tok"))
    val words = docs.select(col("doc_id"),
      explode(TextAnalysis.words(col("text"))).as("w"))
    val whash = TextAnalysis.md5Long(col("w")) % 1000003L
    words.join(vtok, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(octet_length(col("w")).cast("long")).as("n_bytes"),
        sum(whash * col("n_tok")).as("tok_hash"))
      .orderBy("doc_id")
  }

  /** q177: tokenizer fertility / compression audit per language bucket
    * — the multilingual-tokenizer health check (fertility = tokens per
    * word; bytes per token = compression): a language whose fertility
    * is far above the corpus norm is being over-segmented by the
    * trained merges and pays a proportional context-length tax. Runs
    * the q113 histogram-encode against the SAME persisted tokenizer
    * artifact, aggregated by `lang` instead of `doc_id`.
    *
    * Scale notes: identical plan class to q113 — one corpus explode,
    * one vocab-keyed join, then a lang-keyed aggregate whose shuffle is
    * |langs|×partitions rows; the doc-count side is its own tiny
    * aggregate joined on lang. Ratios are doubles derived from exact
    * integer sums. NULL-lang docs keep their own bucket on the
    * doc-count side; the null-unsafe lang join leaves their word stats
    * 0 in BOTH engines (consistent, documented). */
  def fertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    fertilityWith(docs,
      readTable(s, s"${ensureBpe(s, dir)}/vocab.parquet"))
  }

  private[graft] def fertilityWith(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val vtok = vocab.select(col("w"),
      size(split(col("seq"), " ")).cast("long").as("n_tok"))
    val agg = docs
      .select(col("lang"), explode(TextAnalysis.words(col("text"))).as("w"))
      .join(vtok, Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(octet_length(col("w")).cast("long")).as("n_bytes"))
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .join(agg, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_bytes"), lit(0L)).as("n_bytes"))
      .withColumn("fertility",
        when(col("n_words") > 0L,
          round(col("n_tokens").cast("double") / col("n_words").cast("double"), 6)))
      .withColumn("bytes_per_token",
        when(col("n_tokens") > 0L,
          round(col("n_bytes").cast("double") / col("n_tokens").cast("double"), 6)))
      .orderBy(col("lang").asc_nulls_last)
  }

  /** The oracle chain shared by q110 and q113 — hist, v0..vM vocab
    * states, p_r pair counts, b_r the round's best pair (LEFT JOIN ON
    * TRUE so an empty b_r leaves the vocab unchanged instead of
    * emptying it), with the identical reduce-scan merge. `carryW`
    * threads the word through every state for the encode join. */
  private def chainCtes(carryW: Boolean): String = {
    // single-line continuations only: this fragment is interpolated into
    // a string that is stripMargin'd AGAIN, and a line starting with ||
    // would lose its first | to the margin strip
    val scan =
      "trim(replace(list_reduce(list_prepend(chr(2)||'I', string_split(v.seq,' ')), " +
        "(acc, x) -> CASE " +
        "WHEN acc = chr(2)||'I' THEN chr(1) || x " +
        "WHEN split_part(acc, chr(1), 2) = b.bl AND x = b.br " +
        "THEN split_part(acc, chr(1), 1) || ' ' || b.bm || chr(1) " +
        "ELSE (CASE WHEN split_part(acc, chr(1), 2) = '' " +
        "THEN split_part(acc, chr(1), 1) " +
        "ELSE split_part(acc, chr(1), 1) || ' ' || split_part(acc, chr(1), 2) END) " +
        "|| chr(1) || x END), chr(1), ' '))"
    val wSel = if (carryW) "v.w, " else ""
    val w0Sel = if (carryW) "w, " else ""
    // MATERIALIZED on every vocab/best state: v_{i-1} is referenced
    // twice per round, and DuckDB inlines plain CTEs per reference —
    // the 64-round chain would otherwise expand 2^64 scans of the
    // corpus (at Merges=8 the 256-way expansion went unnoticed)
    val rounds = (1 to Merges).map { i =>
      s"""p$i AS MATERIALIZED (SELECT pair, SUM(cnt) AS c FROM (
         |  SELECT unnest(list_transform(range(1, len(l)), j -> l[j] || ' ' || l[j+1])) AS pair, cnt
         |  FROM (SELECT string_split(seq, ' ') AS l, cnt FROM v${i - 1})) GROUP BY pair),
         |b$i AS MATERIALIZED (SELECT pair, c FROM p$i WHERE c >= $MinPairCount ORDER BY c DESC, pair LIMIT 1),
         |v$i AS MATERIALIZED (SELECT ${wSel}CASE WHEN b.bl IS NULL THEN v.seq ELSE $scan END AS seq, v.cnt
         |  FROM v${i - 1} v LEFT JOIN (SELECT split_part(pair,' ',1) AS bl,
         |    split_part(pair,' ',2) AS br, replace(pair,' ','') AS bm FROM b$i) b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""hist AS MATERIALIZED (SELECT w, COUNT(*) AS cnt FROM (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents) GROUP BY w),
       |v0 AS MATERIALIZED (SELECT ${w0Sel}trim(regexp_replace(hex(w), '(..)', '\\1 ', 'g')) AS seq, cnt
       |  FROM hist),
       |$rounds""".stripMargin
  }

  val bpeOracleSql: String = {
    val out = (1 to Merges).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_rank, split_part(pair,' ',1) AS lhs,
         | split_part(pair,' ',2) AS rhs, replace(pair,' ','') AS merged,
         | CAST(c AS BIGINT) AS pair_count FROM b$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${chainCtes(carryW = false)}
       |SELECT * FROM (
       |$out
       |) ORDER BY merge_rank""".stripMargin
  }

  /** q113 oracle: the carried-word chain's final state becomes the
    * (w → token count) vocab; docs re-explode and join it — the same
    * histogram-encode shape as the engine, fold for fold (strlen is
    * DuckDB's BYTE length, = Spark octet_length). */
  val bpeEncodeOracleSql: String =
    s"""WITH ${chainCtes(carryW = true)},
       |vocab AS (SELECT w, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_tok FROM v$Merges),
       |wx AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(strlen(w)) AS BIGINT) AS n_bytes,
       |  CAST(SUM((CAST(('0x' || substring(md5(w),1,15)) AS BIGINT) % 1000003) * n_tok) AS BIGINT) AS tok_hash
       |FROM wx JOIN vocab USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q177 oracle: the same carried-word chain, aggregated per lang;
    * LEFT JOIN on lang is null-unsafe in both engines (documented). */
  val fertilityOracleSql: String =
    s"""WITH ${chainCtes(carryW = true)},
       |vocab AS (SELECT w, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_tok FROM v$Merges),
       |wx AS (SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents),
       |a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(strlen(w)) AS BIGINT) AS n_bytes
       | FROM wx JOIN vocab USING (w) GROUP BY lang),
       |d AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang)
       |SELECT d.lang, n_docs,
       |  COALESCE(n_words, 0) AS n_words,
       |  COALESCE(n_tokens, 0) AS n_tokens,
       |  COALESCE(n_bytes, 0) AS n_bytes,
       |  CASE WHEN COALESCE(n_words, 0) > 0
       |    THEN ROUND(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6) END AS fertility,
       |  CASE WHEN COALESCE(n_tokens, 0) > 0
       |    THEN ROUND(CAST(n_bytes AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) END AS bytes_per_token
       |FROM d LEFT JOIN a USING (lang) ORDER BY d.lang NULLS LAST""".stripMargin
}
