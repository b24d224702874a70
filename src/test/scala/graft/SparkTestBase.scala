package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // explicit file:/// warehouse override: proves the ArtifactStore
    // config path end-to-end and keeps spec artifacts out of the shared
    // default warehouse (getOrCreate reuses the first session in this
    // JVM, so all suites share one temp warehouse per test run)
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .config("spark.graft.warehouse",
        java.nio.file.Files.createTempDirectory("graft_wh_spec").toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. Job counts do not move with
    * host load, so a spec can pin them exactly; the listener bus is
    * drained on both sides so every job of `body`, and only those, is
    * counted. */
  def jobsDuring(body: => Any): Int = jobPropertiesDuring(body).size

  /** The local properties of each Spark job started while `body` runs
    * (e.g. `streaming.sql.batchId`, to count one micro-batch's jobs). */
  def jobPropertiesDuring(body: => Any): Seq[Properties] = {
    val jobs = new ConcurrentLinkedQueue[Properties]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties).getOrElse(new Properties))
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerBus.drain(spark.sparkContext)
      jobs.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
