package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.SparkTestSession

/** Round-16 stream-state sizing contract (the round-15 verdict's two
  * streaming items):
  *
  *  1. POLICY AS CODE — `statePartsFor` takes a MEASURED keyspace
  *     estimate: the bench corpus's thousands-of-keys state lands on
  *     the measured round-15 optimum (MinStateParts = 8), a planted
  *     wide-key table sizes UP, and the 4×-parallelism cap bounds a
  *     wild estimate.
  *  2. CONCURRENCY SAFETY — `withStateParts` builds the stream on a
  *     CLONED session, so a concurrent batch query in the parent
  *     session can never plan at state parallelism (the
  *     session-global-mutation class the session-scoped dispatch
  *     override replaced for GraphOps).
  */
class StateSizingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("bench-corpus measured keyspaces land on the MinStateParts floor") {
    // Every wrapped op's state key on the test corpus is thousands of
    // keys — far below KeysPerStatePartition, so the floor holds
    // (the round-15 measured optimum: 8 beat 32 mostly-idle stores).
    val exprs = Seq(
      ("events", "user_id"),
      ("events", "concat(cast(date_trunc('HOUR', ts) AS STRING), event_type)"),
      ("documents", "text"))
    exprs.foreach { case (t, e) =>
      val keys = StreamingOps.approxKeys(spark, sf, t, e)
      assert(keys > 0, s"$t/$e measured zero keys")
      assert(StreamingOps.statePartsFor(spark, keys) ==
        StreamingOps.MinStateParts, s"$t/$e should land on the floor")
    }
  }

  test("planted wide-key table sizes state partitions UP, capped at 4x parallelism") {
    val dir = java.nio.file.Files.createTempDirectory("graft_widekeys").toString
    val n = 260000L
    spark.range(n).selectExpr("id AS k")
      .write.mode("overwrite").parquet(s"$dir/wide.parquet")
    val est = StreamingOps.approxKeys(spark, dir, "wide", "k")
    // approx_count_distinct is ±~2% at this cardinality.
    assert(math.abs(est - n) < n / 20, s"estimate $est far from $n")
    val parts = StreamingOps.statePartsFor(spark, est)
    assert(parts > StreamingOps.MinStateParts,
      s"wide keyspace must size past the floor, got $parts")
    val cap = math.max(StreamingOps.MinStateParts,
      spark.sparkContext.defaultParallelism * 4)
    assert(parts <= cap)
    // A wild estimate clamps to the cap instead of exploding.
    assert(StreamingOps.statePartsFor(spark, Long.MaxValue / 2) == cap)
    // Monotone in the estimate.
    assert(StreamingOps.statePartsFor(spark, 1L) <=
      StreamingOps.statePartsFor(spark, est))
  }

  test("in-place regeneration is a memo miss (invalidation contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_keymemo").toString
    def plant(n: Long): Unit = {
      spark.range(n).selectExpr("id AS k").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      // Distinct mtime for the rewrite even on coarse filesystems.
      val f = new java.io.File(s"$dir/t.parquet")
      f.setLastModified(f.lastModified() + 2000L)
    }
    plant(100L)
    val first = StreamingOps.approxKeys(spark, dir, "t", "k")
    assert(math.abs(first - 100L) <= 5L)
    plant(5000L)
    val second = StreamingOps.approxKeys(spark, dir, "t", "k")
    assert(second > 1000L,
      s"regenerated table must re-measure, got stale $second")
  }

  test("withStateParts never mutates the parent session (concurrent batch safe)") {
    val parentBefore = spark.conf.get("spark.sql.shuffle.partitions")
    var cloneParts = ""
    var parentDuring = ""
    var clone: SparkSession = null
    StreamingOps.withStateParts(spark, 1L) { ss =>
      clone = ss
      cloneParts = ss.conf.get("spark.sql.shuffle.partitions")
      // A batch query planned in the PARENT session mid-stream keeps
      // session parallelism — the conf it plans with is untouched.
      parentDuring = spark.conf.get("spark.sql.shuffle.partitions")
      assert(ss ne spark, "must run on a cloned session")
      // The clone inherits the semantic timezone contract.
      assert(ss.conf.get("spark.sql.session.timeZone") ==
        spark.conf.get("spark.sql.session.timeZone"))
    }
    assert(cloneParts == StreamingOps.MinStateParts.toString)
    assert(parentDuring == parentBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parentBefore)
    // The clone's conf restores to parent parallelism after the
    // (synchronous) stream run, so the lazily-planned batch readout
    // doesn't inherit state sizing.
    assert(clone.conf.get("spark.sql.shuffle.partitions") == parentBefore)
  }

  test("a wrapped streaming op still answers on the cloned session") {
    // End-to-end: the readout DataFrame is bound to the clone's
    // isolated catalog and must still collect from the caller's side.
    val out = StreamingOps.streamDedup(spark, sf)
    assert(out.count() > 0)
  }
}
