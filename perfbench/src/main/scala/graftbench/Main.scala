package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import graft.{GraftSession, SparkEntry}

/** Runs one workload: set-up (session, input generation from the seed,
  * one warm-up pass), a closed-loop timed section of passes,
  * then the self-checks. Writes `result.json` into the work dir for the
  * runner, which adds the reference check and prints the result line.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --work DIR --launch-ms EPOCH_MS. */
object Main {
  final case class Pass(wall: Double, res: PassResult, traced: Boolean, spans: Seq[Span],
      groups: Map[String, Work], extras: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val code =
      try { execute(a, work); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Files.write(work.resolve("error.txt"), String.valueOf(e).getBytes(UTF_8))
          1
      }
    System.exit(code)
  }

  def execute(a: Map[String, String], work: Path): Unit = {
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val launchMs = a("launch-ms").toLong
    val w = Workloads(name)

    val spark = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.graft.warehouse", work.resolve("graft-warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    val run = new Run(spark, seed, work, traced)
    val setupParts = mutable.ArrayBuffer("session" -> (System.currentTimeMillis - launchMs) / 1000.0)
    def part[T](name: String)(body: => T): T = {
      val (r, ms) = Workloads.timed(body)
      setupParts += name -> ms / 1000.0
      r
    }

    Gen.resetDigest()
    part("generation")(w.generate(run, run.inputs))
    val inputDigest = Gen.digest
    part("start")(w.start(run, run.inputs))
    // warm-up: one untimed pass over the run's inputs, so JIT compilation
    // and class loading are set-up. A warm-up over smaller inputs leaves
    // the first full-size pass slow by an amount that varies between runs.
    val warm = work.resolve("warmup")
    part("warm-up") {
      w.warmUp(run, run.inputs, warm)
      Run.deleteTree(warm)
    }
    run.consumed.clear()
    val setupS = (System.currentTimeMillis - launchMs) / 1000.0
    run.listener.take(run.sc)
    run.plans.clearDurations()

    // timed section: closed loop, one client, passes until `seconds` have
    // passed and the workload's minimum is done. Traced runs alternate
    // untraced and traced passes, starting untraced; the overhead ratio
    // leaves the first pass out
    val minPasses = if (traced) math.max(3, w.minPasses) else w.minPasses
    val passes = mutable.ArrayBuffer[Pass]()
    val h0 = Host.sample()
    val t0 = System.nanoTime
    var lastOut: Path = null
    var failed = 0
    var attempted = 0
    while (failed == 0 && (passes.size < minPasses || (System.nanoTime - t0) / 1e9 < seconds)) {
      val out = work.resolve(s"pass-${passes.size}")
      // the first pass is untraced and left out of the overhead ratio
      val tracedPass = traced && passes.size % 2 == 1
      run.tracer.clear()
      run.tracer.traced = tracedPass
      val p0 = System.nanoTime
      val res =
        try Some(run.tracer.span("pass")(w.pass(run, run.inputs, out)))
        catch { case e: Exception => e.printStackTrace(); None }
      val wall = (System.nanoTime - p0) / 1e9
      run.tracer.traced = false
      val groups = run.listener.take(run.sc)
      res match {
        case Some(r) =>
          attempted += r.calls
          val extras = if (tracedPass) w.extras(run, r, groups, out) else Map.empty[String, Double]
          passes += Pass(wall, r, tracedPass, run.tracer.spans.toSeq, groups, extras)
        case None =>
          attempted += 1
          failed += 1
      }
      run.plans.clearDurations()
      run.stopRecording()
      if (lastOut != null) Run.deleteTree(lastOut)
      lastOut = out
    }
    val h1 = Host.sample()

    val problems = mutable.ArrayBuffer[String]()
    var joins = ""
    w.stop(run)
    val outputs = if (failed == 0) {
      problems ++= run.planCheck()
      joins = run.joinNote()
      problems ++= w.audit(run)
      w.outputs(run, run.inputs, lastOut)
    } else Nil

    val (steal, other) = (for (a <- h0; b <- h1) yield Host.shares(a, b)).getOrElse((0.0, 0.0))
    val ownCpu = (for (a <- h0; b <- h1) yield (b.self - a.self) / Host.TicksPerSecond).getOrElse(0.0)
    val metrics =
      if (traced) Metrics.perLayer(passes.toSeq, steal, other)
      else Metrics.endToEnd(passes.toSeq, setupS)
    val oracle = SparkEntry.oracleSql
    val json = Json.obj(
      "workload" -> Json.str(name),
      "seed" -> seed.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "passes" -> passes.size.toString,
      "input_digest" -> Json.str(inputDigest),
      "problems" -> Json.arr(problems.map(Json.str).toSeq),
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "notes" -> Json.obj((Metrics.notes(passes.toSeq) ++ Seq(
        "setup_parts_s" -> setupParts.map { case (k, v) => f"$k $v%.2f" }.mkString(", "),
        "joins" -> joins,
        "host_timed" -> f"steal $steal%.2f %%, other processes $other%.2f %%, own cpu $ownCpu%.1f s")).map { case (k, v) => k -> Json.str(v) }: _*),
      "outputs" -> Json.arr(outputs.map(o => Json.obj("name" -> Json.str(o.name),
        "kind" -> Json.str(o.kind), "path" -> Json.str(o.path), "source" -> Json.str(o.source),
        "sql" -> Json.str(oracle.getOrElse(o.kind.stripPrefix("oracle:"), ""))))))
    Files.write(work.resolve("result.json"), json.getBytes(UTF_8))
    spark.stop()
  }
}

/** Minimal JSON text builder (values are pre-rendered strings). */
object Json {
  def str(s: String): String = Gen.jsonStr(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
