package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory behind every entry point (Bench,
  * BenchDist, BenchDistAnn, Verify, Explain): `local[cpus]`, `cpus`
  * shuffle partitions, UTC session time zone (the NTZ casts assume
  * it) and no UI. A session knob added here reaches every entry point
  * at once. */
object Sessions {
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
