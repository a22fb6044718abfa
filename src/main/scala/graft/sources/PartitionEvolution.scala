package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-spec evolution — the table-format capability of reading
  * ONE logical table whose history spans two physical partitioning
  * schemes (Iceberg's spec evolution; Hive tables frozen mid-
  * migration): early data landed partitioned by year, later data by
  * (year, month), and a reader must union both layouts while each
  * side still gets full directory-level partition pruning for its
  * own spec. No rewrite of history — the old layout stays byte-
  * untouched, which is the entire point at 100 TB (re-partitioning
  * a petabyte of history to adopt a finer spec is the anti-pattern
  * the capability exists to avoid).
  *
  * The reader selects the COMMON logical columns from each layout
  * (partition values materialize from directory names) and unions;
  * predicates on partition columns prune directories on BOTH sides
  * (spec-pinned via `inputFiles`). */
object PartitionEvolution {

  /** Build the two-spec fixture: orders before 1998 partitioned by
    * o_year (spec v1), 1998+ by (o_year, o_month) (spec v2). */
  private[sources] def fixture(spark: SparkSession, dir: String): String =
    graft.SideOutput("pevo", s"$dir/orders.parquet") { root =>
      val o = graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("o_month", month(col("o_orderdate")))
      o.filter(col("o_year") < 1998).drop("o_month")
        .write.mode("overwrite").partitionBy("o_year").parquet(s"$root/v1")
      o.filter(col("o_year") >= 1998)
        .write.mode("overwrite").partitionBy("o_year", "o_month")
        .parquet(s"$root/v2")
    }

  /** Unified read across both specs (common logical columns; each
    * side keeps its own directory pruning for `pred`). */
  def readUnified(spark: SparkSession, root: String,
      pred: org.apache.spark.sql.Column): DataFrame = {
    val common = Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_year")
    val v1 = spark.read.parquet(s"$root/v1").filter(pred)
      .select(common.map(col): _*)
    val v2 = spark.read.parquet(s"$root/v2").filter(pred)
      .select(common.map(col): _*)
    v1.unionByName(v2)
  }

  /** Query entry (`src_partition_evolution`): a year-range predicate
    * spanning the spec boundary, answered identically to a plain
    * scan while each layout prunes to its matching directories. */
  def qPartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val root = fixture(spark, dir)
    readUnified(spark, root, col("o_year").isin(1997, 1998))
      .groupBy(col("o_year").cast("long").as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_year"))
  }
}
