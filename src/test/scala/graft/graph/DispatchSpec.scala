package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** The Dispatch.gated contract: one evaluation of the caller's
  * lineage on the twin branch, and an override scoped to the session
  * that sets it. */
class DispatchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** `f` over a lineage whose per-row evaluations are counted. */
  private def evaluations(build: (Column => Column) => DataFrame)
      (f: DataFrame => Unit): Long = {
    val acc = spark.sparkContext.longAccumulator("lineage evaluations")
    val tick = udf { (x: Long) => acc.add(1L); x }.asNondeterministic()
    f(build(c => tick(c)))
    acc.value
  }

  private def twinRuns(site: String): Long =
    Dispatch.taken.get(site).map(_._1).getOrElse(0L)

  test("GraphOps.louvain's twin branch reads the caller's lineage once") {
    val before = twinRuns("louvainFor")
    // A 6-cycle with a fresh seed column so no earlier run's memo
    // entry can serve it.
    val seed = System.nanoTime()
    val n = evaluations { tick =>
      spark.range(0, 6).select(tick(col("id")).as("src"),
        ((col("id") + 1) % 6).as("dst"), lit(1.0).as("weight"),
        lit(seed).as("seed"))
    } { e => GraphOps.louvain(spark, e).collect(): Unit }
    assert(twinRuns("louvainFor") == before + 1, "the twin branch did not run")
    assert(n == 6L, s"lineage evaluated $n row-times for 6 rows")
  }

  test("mergeCcDispatch's twin branch reads the batch lineage once") {
    val sink = java.nio.file.Files.createTempDirectory("graft_dispatch_spec").toString
    val before = twinRuns("mergeCcDispatch")
    val n = evaluations { tick =>
      spark.range(0, 6).select(tick(col("id")).as("src"),
        ((col("id") + 1) % 6).as("dst"))
    } { b => StreamingOps.mergeCc(sink)(b, 0L) }
    assert(twinRuns("mergeCcDispatch") == before + 1, "the twin branch did not run")
    assert(n == 6L, s"batch evaluated $n row-times for 6 rows")
    StreamingOps.dropCcCarry(sink)
  }

  test("the override is session-scoped and names sites") {
    val sibling = spark.newSession()
    spark.conf.set(Dispatch.DistributedKey, "mergeCcDispatch, coreness")
    try {
      assert(Dispatch.forcedDistributed(spark, "coreness"))
      assert(Dispatch.forcedDistributed(spark, "mergeCcDispatch"))
      assert(!Dispatch.forcedDistributed(spark, "hits"))
      assert(!Dispatch.forcedDistributed(sibling, "coreness"))
      // End to end: the sibling's coreness still takes its twin.
      import sibling.implicits._
      val before = twinRuns("coreness")
      val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      assert(GraphOps.coreness(sibling, e).collect().length == 3)
      assert(twinRuns("coreness") == before + 1)
    } finally spark.conf.unset(Dispatch.DistributedKey)
    spark.conf.set(Dispatch.DistributedKey, "*")
    try assert(Dispatch.forcedDistributed(spark, "anySite"))
    finally spark.conf.unset(Dispatch.DistributedKey)
    assert(!Dispatch.forcedDistributed(spark, "coreness"))
  }
}
