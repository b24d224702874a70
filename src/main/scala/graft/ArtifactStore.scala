package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** Shared store for derived artifacts that are built once per source dir
  * and served many times (the q46/q87/q93 pair table, the q72 persisted
  * IVF index, q82's schema-drift snapshots).
  *
  * Everything resolves through the Hadoop FileSystem API against a
  * configurable warehouse root (`spark.graft.warehouse`, default: a
  * `graft_warehouse` dir under the driver's tmpdir for local runs) — on a
  * real cluster the root points at HDFS/S3A, where executors and any
  * number of drivers see the same artifacts; `java.io.File` paths would
  * silently rebuild per driver.
  *
  * Publish protocol ([[publishStaged]], shared with the streaming MERGE
  * sink's versions, `graft.streaming.Streams.publishVersion`): build
  * into a UNIQUE staging dir, then atomically rename to the final path.
  * A concurrent builder racing to the same artifact loses the rename
  * and drops its staging copy; readers either see the complete artifact
  * or none — never a partial one, because the final path only ever
  * appears via the rename of a fully-built staging dir.
  *
  * Table contract: every parquet table inside an artifact is written by
  * [[writeTable]], which records the table's schema in `<table>/_schema`
  * (JSON, nullable as parquet stores it, data columns first and
  * partition columns last), and read by [[readTable]] with that schema.
  * A read therefore starts no footer-inference job, and a zero-row
  * partitioned table (no part files, only `_SUCCESS`) reads back as a
  * typed empty frame. There is no inference fallback: a table without
  * `_schema` fails to read. Spark's file listing skips `_`-prefixed
  * names, so `_schema` is never read as data. */
object ArtifactStore {

  /** Storage format of graft-built artifacts, folded into every
    * [[graft.Tables.dirFingerprint]]: bump when the stored layout
    * changes, so an artifact an earlier build left in the warehouse is
    * never served and [[ensureCurrent]]'s retention sweeps it as a
    * superseded fingerprint. s1: tables carry `_schema`. */
  private[graft] val Format = "s1"

  private val SchemaFile = "_schema"

  /** Write `df` as the parquet table at `path`, partitioned by
    * `partitionCols`, and record its schema in `<path>/_schema`. */
  def writeTable(df: DataFrame, path: String, partitionCols: String*): Unit = {
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    val data = df.schema.filterNot(f => partitionCols.contains(f.name))
    val stored = ColumnBridge.asNullable(StructType(data ++ partitionCols.map(df.schema(_))))
    val p = new Path(path, SchemaFile)
    writeUtf8(p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration), p, stored.json)
  }

  /** The table [[writeTable]] wrote at `path`, read with its recorded
    * schema. */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path, SchemaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.schema(parseSchema(readUtf8(fs, p))).parquet(path)
  }

  private[graft] def parseSchema(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  private[graft] def writeUtf8(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  def warehouseRoot(spark: SparkSession): Path = {
    val dflt = java.nio.file.Paths
      .get(System.getProperty("java.io.tmpdir"), "graft_warehouse")
      .toUri.toString
    new Path(spark.conf.get("spark.graft.warehouse", dflt))
  }

  /** Ensure the artifact `name` exists under the warehouse root, building
    * it via `build(stagingPath)` when absent; returns the final path
    * (string form, usable by spark.read). `build` must write the complete
    * artifact under the single directory it is handed. */
  def ensure(spark: SparkSession, name: String)(build: String => Unit): String = {
    val root = warehouseRoot(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fin = new Path(root, name)
    if (!fs.exists(fin)) {
      fs.mkdirs(root)
      publishStaged(fs, fin)(staging => build(staging.toString))
    }
    fin.toString
  }

  /** Stage → rename → drop-the-loser: `build` fills a fresh staging dir
    * `_staging-<target name>-<uuid>` next to `target`, which is renamed
    * to `target` unless `target` already exists. A `build` that throws
    * leaves no staging dir and publishes nothing. */
  private[graft] def publishStaged(fs: FileSystem, target: Path)(
      build: Path => Unit): Unit = {
    val staging = new Path(target.getParent,
      s"_staging-${target.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
    // a build that throws must not strand its staging dir forever
    var built = false
    try { build(staging); built = true }
    finally if (!built) fs.delete(staging, true)
    // exists-check first: some FileSystems rename INTO an existing dir
    // rather than failing; a racing loser must drop its copy either way
    val published = !fs.exists(target) && fs.rename(staging, target)
    if (!published) fs.delete(staging, true)
    // TOCTOU guard: between the exists-check and the rename, a racing
    // loser on a FileSystem that renames INTO an existing dir can nest
    // its staging copy inside the published dir. Readers ignore it
    // (underscore prefix), but the copy would leak — sweep it.
    if (fs.exists(target))
      fs.listStatus(target).filter(_.getPath.getName.startsWith("_staging-"))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** [[ensure]] with retention for content-fingerprinted artifacts.
    * Artifact names follow `<base>_<fingerprint>` (jpairs_v2_ab12…,
    * ivf_exact_v3_…): every upstream data change mints a new fingerprint,
    * so without retention each change orphans the previous artifact
    * forever. After the artifact for the CURRENT fingerprint exists,
    * this bounds the orphan growth by sweeping sibling fingerprints of
    * the same base — but only BEYOND the `retainSiblings` most recently
    * modified AND older than `graceMs`. Distinct fingerprints are NOT
    * proof of a dead source: a session (or a fleet of drivers sharing
    * the warehouse) legitimately serves several live source dirs at
    * once — sf0.01 verify, sf0.1 bench, an injected robustness fixture —
    * and an unconditional sweep here would delete artifacts out from
    * under their readers on every dir switch and rebuild "build-once"
    * work each time. The count bound caps disk growth; the age bound
    * protects a reader that resolved a path and reads it lazily.
    *
    * retainSiblings sizing: a round's gate cycle serves 8+ live dirs at
    * once (sf0.001/0.01/0.1/1/10 + the three injected fixtures, each
    * re-injection a fresh fingerprint) — at the old bound of 8 a fixture
    * sweep evicted the bench-scale artifacts and the next bench silently
    * re-paid every "build-once" cost (q128: 115 s rebuild vs 5 s read at
    * sf1). 24 covers every dir the verify+bench cycle touches with room
    * for re-injections; disk cost is bounded by the artifact sizes, not
    * the corpus. */
  def ensureCurrent(spark: SparkSession, base: String, fingerprint: String,
      retainSiblings: Int = 24, graceMs: Long = 3600L * 1000)
      (build: String => Unit): String = {
    val name = s"${base}_$fingerprint"
    val path = ensure(spark, name)(build)
    val root = warehouseRoot(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - graceMs
    fs.listStatus(root).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n != name && n.startsWith(base + "_") &&
          // same base, different fingerprint — NOT a longer base that
          // happens to share this prefix (fingerprints are bare hex)
          n.substring(base.length + 1).forall(c => c.isDigit || (c >= 'a' && c <= 'f'))
      }
      .sortBy(-_.getModificationTime)
      .drop(retainSiblings)
      .filter(_.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    path
  }

  /** Sweeps `_staging-*` dirs stranded by a crashed BUILDER PROCESS (the
    * in-process failure path is covered by [[publishStaged]]'s
    * try/finally; a kill -9 mid-build is not). Only dirs whose NEWEST file anywhere in
    * the tree is older than `graceMs` go: a directory's own mtime only
    * changes when a direct child appears, so a long-running Spark write
    * (committer creates `_temporary` at job start, then writes task
    * files deep inside it) can leave the top-level mtime stale for the
    * whole build — the recursive scan sees the task files still landing
    * and spares the in-flight build. Returns the swept names. */
  def vacuumStaging(spark: SparkSession, graceMs: Long = 3600L * 1000): Seq[String] = {
    val root = warehouseRoot(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val cutoff = System.currentTimeMillis() - graceMs
    def newestMtime(p: Path): Long = {
      val st = fs.getFileStatus(p)
      val children = if (st.isDirectory) fs.listStatus(p).toSeq else Nil
      (st.getModificationTime +: children.map(c => newestMtime(c.getPath))).max
    }
    fs.listStatus(root).toSeq
      .filter(st => st.getPath.getName.startsWith("_staging-") &&
        newestMtime(st.getPath) < cutoff)
      .map { st => fs.delete(st.getPath, true); st.getPath.getName }
  }
}
