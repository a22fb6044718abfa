package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data-skipping index — the table-format scan-planning
  * pattern (Iceberg manifests / Delta file stats) re-expressed over
  * plain parquet: every clustered write also records a per-file
  * (count, min, max per indexed column) STATS table, and a reader
  * with an interval predicate first prunes the file list against
  * those stats, then scans only surviving files with the residual
  * filter still applied (pruning is performance-only — a wrong or
  * stale stat can cost time, never correctness).
  *
  * Two layouts expose the two halves of the story:
  *
  *  - LINEAR clustering (`repartitionByRange` on one column): files
  *    hold tight ranges of the cluster column, so 1-D interval
  *    predicates prune to O(selectivity) of the file list — but
  *    every file spans the full range of every OTHER column, so a
  *    second predicate dimension prunes nothing.
  *  - Z-ORDER clustering (Morton bit-interleave of two dimensions,
  *    [[morton16]]): z-contiguous files are axis-aligned-ish tiles
  *    in 2-D, so BOTH columns' per-file ranges are tight and a 2-D
  *    box predicate prunes multiplicatively (spec-pinned strictly
  *    better than the linear layout on a planted grid).
  *
  * 100 TB shape: the stats table is O(files) rows — bounded driver
  * state exactly like a table format's manifest list — and the
  * candidate-file resolution is a broadcast-sized filter, never a
  * data scan. At real scale stats are written by the same job that
  * writes the data (as here: [[writeClustered]] emits data + stats
  * in one pass over the written files), and the z-value is just one
  * more codegen'd integer column — no row ever moves twice.
  */
object SkipIndex {

  val NumFiles = 16

  /** 32-bit Morton code: interleaves the low 16 bits of `a` (odd bit
    * positions) and `b` (even positions). Pure integer bitwise ops —
    * codegen'd end to end, no UDF. */
  def morton16(a: Column, b: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** Write `df` as `nFiles` files range-clustered on `clusterCol`,
    * then record the per-file stats manifest for `statCols` at
    * `out/_stats` (count + min/max per column, one row per file). */
  def writeClustered(df: DataFrame, clusterCol: Column,
      statCols: Seq[String], out: String, nFiles: Int = NumFiles): Unit = {
    val spark = df.sparkSession
    df.repartitionByRange(nFiles, clusterCol)
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").parquet(s"$out/data")
    val aggs = count(lit(1)).as("cnt") +: statCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(s"$out/data")
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/_stats")
  }

  /** Candidate files for a conjunction of closed-interval predicates
    * `(col, lo, hi)`: a file survives iff every predicate interval
    * intersects its [min, max]. O(files) rows to the driver — the
    * manifest read, never data. */
  def prunedFiles(spark: SparkSession, out: String,
      preds: Seq[(String, Column, Column)]): Seq[String] = {
    val cond = preds.map { case (c, lo, hi) =>
      col(s"max_$c") >= lo && col(s"min_$c") <= hi
    }.reduce(_ && _)
    spark.read.parquet(s"$out/_stats").filter(cond)
      .select(col("file")).collect().map(_.getString(0)).sorted.toSeq
  }

  /** Stats-pruned scan: read only candidate files, keep the residual
    * filter (skipping must never change answers). Empty candidate
    * set → a footer-only empty scan of the layout (schema preserved,
    * zero data rows read). */
  def prunedRead(spark: SparkSession, out: String,
      preds: Seq[(String, Column, Column)], residual: Column): DataFrame = {
    val files = prunedFiles(spark, out, preds)
    val base =
      if (files.isEmpty) spark.read.parquet(s"$out/data").where(lit(false))
      else spark.read.parquet(files: _*)
    base.filter(residual)
  }

  // ---- fixtures over the orders table -------------------------------

  private def ordersCols(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderdate"))

  private def linearLayout(spark: SparkSession, dir: String): String =
    graft.SideOutput("skiplinear", s"$dir/orders.parquet")(
      writeClustered(ordersCols(spark, dir), col("o_orderdate"),
        Seq("o_orderdate"), _))

  private def zorderLayout(spark: SparkSession, dir: String): String =
    graft.SideOutput("skipzorder", s"$dir/orders.parquet") { out =>
      val o = ordersCols(spark, dir)
        .withColumn("__z", morton16(
          datediff(to_date(col("o_orderdate")), lit("1995-01-01")),
          col("o_custkey")))
      writeClustered(o, col("__z"),
        Seq("o_orderdate", "o_custkey"), out)
    }

  private val yr0 = lit("1997-01-01").cast("timestamp")
  private val yr1 = lit("1998-01-01").cast("timestamp")

  /** Query entry (`src_minmax_skip`): 1997 orders by month off the
    * linearly clustered layout through the stats-pruned read — the
    * answer is oracle-identical to a full scan; the pruning (a
    * handful of the 16 files survive) is the point. */
  def qMinmaxSkip(spark: SparkSession, dir: String): DataFrame = {
    val out = linearLayout(spark, dir)
    prunedRead(spark, out,
      Seq(("o_orderdate", yr0, yr1)),
      col("o_orderdate") >= yr0 && col("o_orderdate") < yr1)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("ym"))
  }

  /** Query entry (`src_zorder_skip`): a 2-D box (1997 × customers
    * 400–599) off the Z-order layout — both dimensions prune, which
    * the linear layout cannot do (spec-pinned). Residual filter
    * keeps the answer exact. */
  def qZorderSkip(spark: SparkSession, dir: String): DataFrame = {
    val out = zorderLayout(spark, dir)
    prunedRead(spark, out,
      Seq(("o_orderdate", yr0, yr1),
        ("o_custkey", lit(400L), lit(599L))),
      col("o_orderdate") >= yr0 && col("o_orderdate") < yr1 &&
        col("o_custkey").between(400, 599))
      .agg(count(lit(1)).as("n_orders"),
        count_distinct(col("o_custkey")).as("n_custs"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
  }

  // ---- parquet bloom-filter row-group skipping ----------------------

  /** Point-lookup keys for [[qBloomSkip]] — fixed, so the probe is
    * deterministic at every SF (keys absent from a small SF simply
    * match nothing on both engines). */
  val BloomProbeKeys: Seq[Long] = Seq(42L, 777L, 1234L)

  /** Orders written hash-SCATTERED on the order key (every file and
    * row group spans the full customer range — min/max stats prune
    * NOTHING for a customer lookup) with a parquet bloom filter on
    * `o_custkey`. This is the third skipping story next to the
    * linear and Z-order layouts: stats answer range predicates on
    * the cluster key; blooms answer POINT lookups on a
    * high-cardinality key the layout was never clustered by — the
    * "find this user's rows in 100 TB of time-ordered logs" shape,
    * where the reader drops whole row groups whose bloom provably
    * excludes the key. Small block size forces many row groups so
    * the per-group filter has something to skip; BloomSkipSpec
    * probes the footers directly (filter present; planted keys hit,
    * absent keys miss). */
  private def bloomLayout(spark: SparkSession, dir: String): String =
    graft.SideOutput("skipbloom", s"$dir/orders.parquet")(out =>
      ordersCols(spark, dir)
        .repartition(4, col("o_orderkey"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "8192")
        // Dictionary off for the bloom column: parquet SKIPS the
        // bloom when every page is dictionary-encoded (the dict
        // already answers membership exactly), which silently
        // disables the index on low-cardinality test data — the
        // standard pairing is bloom XOR dictionary per column.
        .option("parquet.enable.dictionary#o_custkey", "false")
        .option("parquet.block.size", (1 << 20).toString)
        .parquet(s"$out/data"))

  /** Query entry (`src_bloom_skip`): per-customer order counts and
    * spend for the fixed probe keys off the bloom-indexed scattered
    * layout. The IN predicate pushes to the parquet reader
    * (row-group bloom consultation is reader-internal); the answer
    * is oracle-identical to the plain filtered scan — skipping is
    * performance-only, as with every index here. */
  def qBloomSkip(spark: SparkSession, dir: String): DataFrame = {
    val out = bloomLayout(spark, dir)
    spark.read.parquet(s"$out/data")
      .filter(col("o_custkey").isin(BloomProbeKeys: _*))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_custkey"))
  }
}
