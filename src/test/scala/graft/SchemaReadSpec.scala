package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The schema of a table graft writes itself is decided once, by
  * [[ArtifactStore.writeTable]], and every such table is read with it
  * ([[ArtifactStore.readTable]]). A `read.parquet` that gives no schema
  * infers one from the file footers instead: one Spark job per read, and
  * an error on a zero-row partitioned table. The reads that must infer
  * are listed here with their reason; any other one fails this spec. */
class SchemaReadSpec extends AnyFunSuite {

  /** `.read`, then only `.option(...)` calls, then `.parquet(`. */
  private val Schemaless = """\.read(\s*\.option\([^)]*\))*\s*\.parquet\(""".r

  private val FixtureLoader = "loads the external fixture tables, as Tables.load does"

  /** Source file (relative to src/main/scala) -> (schemaless reads, reason). */
  private val allowed: Map[String, (Int, String)] = Map(
    "graft/Tables.scala" ->
      (1, "Tables.load reads external fixtures, whose timestamp shapes vary"),
    "graft/sources/Ingest.scala" ->
      (1, "q82 reads drifted snapshots with mergeSchema: Spark's merge is what it gates"),
    "graft/tools/NullInject.scala" -> (1, FixtureLoader),
    "graft/tools/NumericInject.scala" -> (2, FixtureLoader),
    "graft/tools/TimestampInject.scala" -> (1, FixtureLoader),
    "graft/tools/UnicodeInject.scala" -> (1, FixtureLoader),
    "graft/tools/ScaleUp.scala" -> (1, FixtureLoader))

  test("every schemaless read.parquet outside ArtifactStore is allowlisted with its reason") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root not found")
    val files = Files.walk(root)
    val found = try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        Schemaless.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    finally files.close()
    assert(found === allowed.map { case (f, (n, _)) => f -> n },
      "a schemaless read.parquet outside this allowlist: write the table with " +
        "ArtifactStore.writeTable and read it with readTable, or allowlist it with its reason")
  }
}
