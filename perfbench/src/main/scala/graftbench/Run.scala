package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One output the checker compares against its reference: `kind` names
  * the reference (see check.py), `path` is the written parquet. */
final case class Output(name: String, kind: String, path: String, source: String = "")

/** What one pass hands back: input rows it consumed, the latencies behind
  * `trigger_p50_ms` (micro-batches, or whole requests where a workload
  * has none), the number of operations it ran, and layer metrics it measured
  * itself. */
final case class PassResult(rows: Long, opMs: Seq[Double], calls: Int,
    extra: Map[String, Double] = Map.empty)

/** Keeps the optimized plan of every parquet write, keyed by output path,
  * so the harness can prove each layer's output was consumed whole. */
final class WritePlans extends QueryExecutionListener {
  val byPath = new java.util.concurrent.ConcurrentHashMap[String, LogicalPlan]()
  /** The physical joins (operator and join type) of every write, keyed by
    * output path. */
  val joinsByPath = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  /** (output path, write duration in ms) of every write since the last
    * [[takeDurations]]. */
  private val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.optimizedPlan.foreach {
      case w: InsertIntoHadoopFsRelationCommand =>
        val p = Run.norm(w.outputPath.toString)
        byPath.put(p, qe.optimizedPlan)
        joinsByPath.put(p, WritePlans.joins(qe.executedPlan))
        writes.add(p -> durationNs / 1e6)
      case _ =>
    }
  def durations: Seq[(String, Double)] = writes.asScala.toSeq
  def clearDurations(): Unit = writes.clear()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object WritePlans extends AdaptiveSparkPlanHelper {
  /** "Operator JoinType" of every join a physical plan executed, inside
    * adaptive query stages and subqueries too (the final plan, after
    * adaptive re-planning). */
  def joins(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) { case j: BaseJoinExec => s"${j.nodeName} ${j.joinType}" }
}

/** Per-run state shared by the workloads: session, tracer, listener and
  * the run's private directories. */
final class Run(val spark: SparkSession, val seed: Long, val work: Path, val traced: Boolean) {
  /** The run's generated inputs. */
  val inputs: Path = work.resolve("inputs")
  val sc = spark.sparkContext
  val listener = new Listener
  val tracer = new Tracer(sc, s"seed$seed")
  val plans = new WritePlans
  sc.addSparkListener(listener)
  spark.listenerManager.register(plans)

  /** Layer outputs consumed in the first pass: (layer, frame, path). */
  val consumed = mutable.ArrayBuffer[(String, DataFrame, String)]()
  private var recording = true

  /** Writes a layer's output through `write`, remembering the frame so
    * [[planCheck]] can later look for its expressions in the write plan. */
  def consume(layer: String, df: DataFrame, path: String)(write: => Unit): Unit = {
    if (recording) consumed += ((layer, df, path))
    write
  }

  def stopRecording(): Unit = recording = false

  /** The joins Spark executed for each layer's recorded writes, as
    * "layer: operator type ×count, ..."; printed so what a workload
    * exercises (broadcast or shuffle joins) is read off the run. */
  def joinNote(): String = {
    org.apache.spark.perfbench.Bus.drain(sc)
    consumed.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map { case (layer, outs) =>
      val js = outs.flatMap(o => Option(plans.joinsByPath.get(Run.norm(o._3))).getOrElse(Nil))
      val counted = js.groupBy(identity).toSeq.sortBy(_._1).map { case (j, n) => s"$j x${n.size}" }
      s"$layer: ${if (counted.isEmpty) "no join" else counted.mkString(", ")}"
    }.mkString("; ")
  }

  /** Names of the expressions a frame's optimized plan computes. */
  private def exprNames(p: LogicalPlan): Set[String] =
    p.collect { case n => n.expressions.flatMap(_.collect { case e => e.nodeName }) }.flatten.toSet

  /** For each consumed layer output: the expressions its optimized plan
    * computes must all still be in the plan of the write that consumed
    * it. A consumer that prunes columns (a bare count) fails this. */
  def planCheck(): Seq[String] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    consumed.toSeq.flatMap { case (layer, df, path) =>
      Option(plans.byPath.get(Run.norm(path))) match {
        case None => Seq(s"$layer: no write plan recorded for $path")
        case Some(w) =>
          val missing = exprNames(df.queryExecution.optimizedPlan) -- exprNames(w)
          if (missing.isEmpty) Nil
          else Seq(s"$layer: write plan lost ${missing.toSeq.sorted.mkString(",")}")
      }
    }
  }
}

object Run {
  def norm(p: String): String =
    Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath).normalize.toString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally st.close()
  }
}
