package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the lakehouse OPTIMIZE maintenance job:
  * streaming ingestion leaves a table as thousands of KB-sized files
  * (every one a scan-planning row, a parquet footer fetch, an open
  * latency), and compaction bin-packs them into ~`targetBytes` files
  * in ONE pass:
  *
  *  1. Plan on metadata: file sizes come from a directory listing
  *     (O(files) driver rows — the manifest read, no data touched);
  *     greedy in-path-order cumulative-size assignment buckets files
  *     into bins of ~targetBytes (the [[SkipIndex]] cumsum shape on
  *     the driver, where it belongs at this cardinality).
  *  2. Rewrite with ONE shuffle: the scan tags rows with
  *     `input_file_name`, a broadcast file→bin map routes them, and
  *     `repartitionByRange(nBins, bin)` (numbered — AQE cannot
  *     coalesce it) lands each bin in its own task →
  *     `partitionBy(bin)` writes ~one output file per bin.
  *
  * Compaction is layout-only: the readout over the compacted copy
  * must equal the oracle over the original — spec-pinned along with
  * the file-count collapse and row preservation. At 100 TB the same
  * job runs per-partition (compact yesterday's landings only), and
  * the swap is a manifest pointer flip ([[VersionedTable]]'s commit
  * discipline), never an in-place mutation. */
object Compaction {

  /** Greedy in-order size bin-packing of the files under `dataDir`;
    * returns the file→bin map. */
  private[sources] def planBins(dataDir: String,
      targetBytes: Long): Map[String, Int] = {
    val files = Option(new java.io.File(dataDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    var cum = 0L
    files.map { f =>
      val bin = (cum / targetBytes).toInt
      cum += f.length()
      f.getPath -> bin
    }.toMap
  }

  /** One-shuffle rewrite of `dataDir` into `outDir` with ~one file
    * per size bin. Returns (filesBefore, nBins). */
  def compact(spark: SparkSession, dataDir: String, outDir: String,
      targetBytes: Long): (Int, Int) = {
    import spark.implicits._
    val bins = planBins(dataDir, targetBytes)
    require(bins.nonEmpty,
      s"compact: no *.parquet files under $dataDir — nothing to bin-pack")
    val nBins = bins.values.max + 1
    val binDf = broadcast(bins.toSeq.toDF("__f", "__bin"))
    spark.read.parquet(dataDir)
      .withColumn("__f", regexp_replace(input_file_name(), "^file:/+", "/"))
      .join(binDf, Seq("__f"))
      .drop("__f")
      .repartitionByRange(nBins, col("__bin"))
      .write.mode("overwrite").partitionBy("__bin").parquet(outDir)
    (bins.size, nBins)
  }

  /** Query entry (`src_compaction`): orders fragmented into 64 tiny
    * files, compacted to ~4; the monthly readout off the compacted
    * copy must equal the plain-table oracle. */
  def qCompaction(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.SideOutput("compact", s"$dir/orders.parquet") { root =>
      val o = graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      o.repartition(64).write.mode("overwrite").parquet(s"$root/small")
      val small = new java.io.File(s"$root/small")
      val bytes = small.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.length()).sum
      compact(spark, s"$root/small", s"$root/compacted",
        targetBytes = math.max(bytes / 4, 1L)): Unit
    }
    spark.read.parquet(s"$root/compacted")
      .groupBy(date_format(col("o_orderdate"), "yyyy").as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("yr"))
  }
}
