package graft.graph

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Measured driver dispatch — the one place that decides whether an
  * operator runs its exact driver twin or its distributed plan.
  *
  * A driver twin is a driver-side copy of a distributed loop whose
  * output is identical (integer-exact arithmetic, canonical labels,
  * unique forests). Below a collect bound the twin skips per-round
  * plan compiles and scheduling; past it the distributed plan is the
  * at-scale shape. Every dispatch site goes through [[gated]], and
  * IterativeDispatchSpec keys its twin-equality checklist on the
  * `Dispatch.gated("<site>"` literals. */
object Dispatch {

  /** Session conf key overriding measured dispatch:
    *  - unset or empty: measured dispatch;
    *  - `*`: every site takes its distributed branch;
    *  - a comma list of site names: only those sites do.
    * Read from the session of the narrow projection, so setting it on
    * one session never reaches a `spark.newSession()` sibling, while a
    * streaming micro-batch sees it through the stream's cloned
    * session. */
  val DistributedKey = "spark.graft.dispatch.distributed"

  private[graft] def forcedDistributed(spark: SparkSession, site: String): Boolean =
    spark.conf.getOption(DistributedKey).exists { v =>
      v.trim == "*" || v.split(',').iterator.map(_.trim).contains(site)
    }

  /** Admission term: no null in `c` (a twin reading it with getDouble
    * would NPE where the distributed plan tolerates nulls). */
  def noNulls(c: Column): Column = count(c) === count(lit(1))

  /** Admission term: every non-null `c` is integral (the twins' exact
    * integer ledgers would otherwise round). NaN fails it. */
  def integral(c: Column): Column =
    coalesce(max(abs(c - round(c))), lit(0.0)) === lit(0.0)

  /** Admission term: no NaN in `c` (NaN ordering differs between a
    * driver sort and Spark's). */
  def noNaN(c: Column): Column = !coalesce(max(isnan(c)), lit(false))

  private val tally = new ConcurrentHashMap[String, (LongAdder, LongAdder)]()

  /** (twin runs, distributed runs) per site since JVM start — lets a
    * spec show that a forced run really took the distributed branch. */
  private[graft] def taken: Map[String, (Long, Long)] = {
    val out = Map.newBuilder[String, (Long, Long)]
    tally.forEach((s, c) => out += s -> ((c._1.sum(), c._2.sum())))
    out.result()
  }

  private def record(site: String, twin: Boolean): Unit = {
    val c = tally.computeIfAbsent(site, _ => (new LongAdder, new LongAdder))
    (if (twin) c._1 else c._2).increment()
  }

  /** The backing RDD when `df` already IS a checkpoint readout. */
  private[graft] def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case r: LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE =>
        Some(r.rdd)
      case _ => None
    }

  /** Run `twin` or `distributed` for one dispatch site.
    *
    * Gate contract:
    *  - Override first: a site forced through [[DistributedKey]], or
    *    whose `keys` are not all LongType (the twins read ids with
    *    getLong), goes distributed without measuring.
    *  - One evaluation: `narrow` is lazily localCheckpointed ONCE
    *    (reused as-is when it already is a checkpoint readout). A
    *    single aggregate materializes it and computes the row count n
    *    plus every `admit` term (boolean aggregates such as
    *    [[noNulls]], [[integral]], [[noNaN]]); the twin's collect and
    *    the distributed branch both read those blocks, never the
    *    caller's lineage again.
    *  - Bound: the twin is admitted iff `n + carried <= bound` and
    *    every admit term holds. `carried` is the driver state a
    *    stateful carry already holds, so the bound covers it too.
    *  - Twin decline: `twin` receives the collected rows and may
    *    return None (a pair-count cap, a carry that would outgrow the
    *    bound); the distributed branch then runs on the same
    *    checkpoint.
    *  - Release: after a twin result the checkpoint this call created
    *    is unpersisted (the twin's output is driver data with no
    *    lineage on it). A checkpoint handed to `distributed` stays
    *    alive — that branch's plan reads it. */
  def gated[T](site: String, narrow: DataFrame, bound: Long,
      keys: Seq[String] = Seq("src", "dst"), admit: Seq[Column] = Nil,
      carried: Long = 0L)
      (twin: Array[Row] => Option[T])(distributed: DataFrame => T): T = {
    val owned = checkpointRdd(narrow).isEmpty
    val cp = if (owned) narrow.localCheckpoint(false) else narrow
    val eligible = !forcedDistributed(narrow.sparkSession, site) &&
      keys.forall(k => narrow.schema(k).dataType == LongType)
    val admitted = eligible && {
      val st = cp.agg(count(lit(1)), admit: _*).collect().head
      st.getLong(0) + carried <= bound &&
        (1 until st.length).forall(i => !st.isNullAt(i) && st.getBoolean(i))
    }
    val viaTwin = if (admitted) twin(cp.collect()) else None
    record(site, viaTwin.isDefined)
    viaTwin match {
      case Some(r) =>
        if (owned) checkpointRdd(cp).foreach(_.unpersist(blocking = false))
        r
      case None => distributed(cp)
    }
  }
}
