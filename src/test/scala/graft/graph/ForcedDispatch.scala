package graft.graph

import org.apache.spark.sql.SparkSession

/** Test kit for the dispatch override: runs a block with sites
  * forced onto their distributed branches through the session conf
  * key, then asserts the override really took effect — at least one
  * forced site ran, and every forced site that ran went distributed.
  * Without that check an override that failed to reach a site (for
  * example a streaming micro-batch planned on the stream's cloned
  * session) would let a twin == distributed equality spec pass while
  * comparing the twin with itself. */
object ForcedDispatch {
  def distributed[T](spark: SparkSession, sites: String = "*")(f: => T): T = {
    val before = Dispatch.taken
    spark.conf.set(Dispatch.DistributedKey, sites)
    val out = try f finally spark.conf.unset(Dispatch.DistributedKey)
    val forced = sites.split(',').map(_.trim).toSet
    val ran = Dispatch.taken.collect {
      case (site, (twin, dist)) if sites == "*" || forced(site) =>
        val (t0, d0) = before.getOrElse(site, (0L, 0L))
        site -> ((twin - t0, dist - d0))
    }.filter { case (_, (t, d)) => t + d > 0 }
    assert(ran.nonEmpty, s"no dispatch site among [$sites] ran")
    assert(ran.values.forall(_._1 == 0L),
      s"forced sites took their driver twin: $ran")
    out
  }
}
