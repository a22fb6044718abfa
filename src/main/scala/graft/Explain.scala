package graft

/** Plan inspection utility: prints the formatted physical plan for
  * selected queries so scan pruning (`ReadSchema`/`PushedFilters`),
  * join strategies (broadcast vs shuffle) and codegen spans can be
  * audited. Usage:
  *
  *   runMain graft.Explain <sfDir> [spark.key=value ...] [query ...]
  *
  * `spark.*` arguments are set on the session before planning. Pass
  * `spark.graft.dispatch.distributed=*` (or a comma list of dispatch
  * sites) to force the driver-twin dispatches onto their distributed
  * branches, so the at-scale plan shape is dumpable at test SFs
  * (otherwise every gated query explains as its twin's
  * LocalTableScan readout). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val (confs, queries) = args.drop(1).toSeq.partition(_.startsWith("spark."))
    val names = if (queries.nonEmpty) queries else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local("4", "ERROR")
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
