package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed copy-on-write versioned table — the row-level-MERGE cost
  * fix for [[VersionedTable]]'s snapshot-granularity rewrite (the
  * README's documented gap, closed the way table formats close it):
  * rows hash into `NumBuckets` key-buckets, every committed version
  * is a MANIFEST mapping bucket → immutable parquet path, and MERGE
  * rewrites ONLY the buckets its update keys touch — untouched
  * buckets carry forward BY REFERENCE (their manifest lines point at
  * the older version's files, byte-untouched on disk). Merge cost is
  * O(touched-bucket data + batch), not O(table); with keys spread
  * evenly a point-update batch rewrites 1/NumBuckets of the table.
  *
  * Layout: `dir/data/v<N>/__b=<k>/` immutable bucket generations;
  * `dir/_commit_<N>` the manifest (one `k<TAB>path` line per
  * bucket), written AFTER the data lands — the [[VersionedTable]]
  * torn-write discipline: a crash between data and manifest leaves
  * orphan files readers never see. Readers resolve a version ONLY
  * through its manifest, so time travel reads exactly the generation
  * mix that version committed.
  *
  * MERGE semantics are [[VersionedTable.merge]]'s exactly (keyed
  * rank-1, updates win, in-batch ties by `orderCol` DESC) —
  * spec-pinned equal — because bucketing by key is merge-invariant:
  * a key's old and new rows always land in the same bucket.
  *
  * 100 TB shape: the touched-bucket probe is a ≤NumBuckets-row
  * bounded driver read (the histogram precedent); per-bucket merge
  * is a key-shuffled window over one bucket's rows; the manifest is
  * O(NumBuckets) text. A real deployment raises NumBuckets with
  * table size (buckets ≈ table/target-file-size) and gets
  * Iceberg-style file-level copy-on-write from the same layout.
  */
object BucketedTable {

  val NumBuckets = 16

  private def bucketCol(keys: Seq[String]): Column =
    pmod(xxhash64(keys.map(col): _*), lit(NumBuckets.toLong))

  private def commitMarker(dir: String, v: Long) =
    new java.io.File(s"$dir/_commit_$v")

  def versions(dir: String): Seq[Long] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq
      .filter(_.getName.startsWith("_commit_"))
      .map(_.getName.stripPrefix("_commit_").toLong)
      .sorted
  }

  def latestVersion(dir: String): Option[Long] = versions(dir).lastOption

  /** Parsed manifest: the table's merge keys (needed to resolve
    * delta chains at read time) and, per bucket, the base generation
    * path plus the ordered row-level delta chain stacked on it.
    * `keys` is empty on manifests written before the row-level path
    * existed (those never carry chains, so reads never need it). */
  private[sources] case class Manifest(keys: Seq[String],
      buckets: Map[Long, (String, Seq[String])])

  /** Full manifest of committed version `v`. Format: an optional
    * `#keys<TAB>c1,c2` header, then one `k<TAB>basePath[<TAB>delta…]`
    * line per bucket — old two-column manifests parse unchanged. */
  private[sources] def manifestFull(dir: String, v: Long): Manifest = {
    require(commitMarker(dir, v).exists(),
      s"version $v of $dir does not exist: never committed, or expired by vacuum")
    val src = scala.io.Source.fromFile(commitMarker(dir, v), "UTF-8")
    try {
      val lines = src.getLines().filter(_.nonEmpty).toSeq
      val keys = lines.collectFirst {
        case l if l.startsWith("#keys\t") =>
          l.stripPrefix("#keys\t").split(",").toSeq
      }.getOrElse(Seq.empty)
      val buckets = lines.filterNot(_.startsWith("#")).map { line =>
        val parts = line.split("\t").toSeq
        parts.head.toLong -> ((parts(1), parts.drop(2)))
      }.toMap
      Manifest(keys, buckets)
    } finally src.close()
  }

  /** bucket → BASE data path map of committed version `v` (delta
    * chains not included — the spec-facing compatibility view). */
  private[sources] def manifest(dir: String, v: Long): Map[Long, String] =
    manifestFull(dir, v).buckets.map { case (k, (base, _)) => k -> base }

  /** Resolve a manifest's bucket set to one row per key: bases are
    * generation 0, each bucket's i-th delta generation i, and the
    * HIGHEST generation holding a key wins (each generation is
    * already rank-1 per key at write time, so no orderCol is needed
    * across generations — a later commit supersedes an earlier one
    * unconditionally, exactly [[merge]]'s updates-win rule). The
    * fast path — no chains anywhere — reads the bases with no window
    * at all, so tables that never used the row-level path pay
    * nothing. */
  private def resolveBuckets(spark: SparkSession, man: Manifest): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val basePaths = man.buckets.values.map(_._1).toSeq.sorted
    if (basePaths.isEmpty) return spark.emptyDataFrame
    val maxChain = man.buckets.values.map(_._2.size).max
    if (maxChain == 0) return spark.read.parquet(basePaths: _*)
    require(man.keys.nonEmpty,
      s"manifest carries delta chains but no #keys header — cannot resolve")
    val levels = spark.read.parquet(basePaths: _*).withColumn("__gen", lit(0)) +:
      (1 to maxChain).map { i =>
        val paths = man.buckets.values.flatMap(_._2.lift(i - 1)).toSeq.sorted
        spark.read.parquet(paths: _*).withColumn("__gen", lit(i))
      }
    val w = Window.partitionBy(man.keys.map(col): _*)
      .orderBy(col("__gen").desc)
    levels.reduce(_.unionByName(_))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "__gen")
  }

  /** Time-travel read of committed version `v` (manifest-resolved:
    * exactly the bucket generations — base + row-level delta chain —
    * that version committed). */
  def asOf(spark: SparkSession, dir: String, v: Long): DataFrame =
    resolveBuckets(spark, manifestFull(dir, v))

  def latest(spark: SparkSession, dir: String): DataFrame =
    asOf(spark, dir, latestVersion(dir).getOrElse(
      throw new IllegalStateException(s"$dir has no committed versions")))

  private def writeManifest(dir: String, nextV: Long, keys: Seq[String],
      buckets: Map[Long, (String, Seq[String])]): Unit = {
    val header = if (keys.nonEmpty) Seq(s"#keys\t${keys.mkString(",")}") else Seq.empty
    val lines = (header ++ buckets.toSeq.sortBy(_._1)
      .map { case (k, (base, chain)) => (Seq(k.toString, base) ++ chain).mkString("\t") })
      .mkString("\n")
    // Commit LAST — write to a temp name then move, so a torn commit
    // never leaves a half-written manifest behind the marker name.
    val tmp = new java.io.File(s"$dir/_tmp_commit_$nextV")
    java.nio.file.Files.createDirectories(new java.io.File(dir).toPath)
    java.nio.file.Files.write(tmp.toPath, lines.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, commitMarker(dir, nextV).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  /** MERGE `updates`, rewriting only the buckets their keys touch.
    * Rewriting a bucket also COMPACTS it: any row-level delta chain
    * stacked on it by [[mergeRowLevel]] folds into the fresh base and
    * the chain resets — the "compacted on the next bucket rewrite"
    * half of the deletion-vector contract. Returns the new committed
    * version id. */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String], orderCol: String): Long = {
    import org.apache.spark.sql.expressions.Window
    val prevV = latestVersion(dir)
    val nextV = prevV.map(_ + 1L).getOrElse(0L)
    val prevMan = prevV.map(manifestFull(dir, _))
      .getOrElse(Manifest(keys, Map.empty))
    val upd = updates.withColumn("__b", bucketCol(keys))
    // Bounded probe: at most NumBuckets rows reach the driver.
    val touched = upd.select(col("__b")).distinct()
      .collect().map(_.getLong(0)).sorted
    // An empty batch touches nothing: committing would mint a version
    // whose manifest duplicates the previous one (silent history
    // inflation). Short-circuit to the existing latest; an empty merge
    // into an empty table still commits v0 below so latest() resolves.
    if (touched.isEmpty && prevV.isDefined) return prevV.get
    // Resolve the touched buckets' CURRENT rows (base + delta chain →
    // one row per key) before ranking against the batch.
    val touchedMan = Manifest(if (prevMan.keys.nonEmpty) prevMan.keys else keys,
      prevMan.buckets.filter(e => touched.contains(e._1)))
    val prevTouched =
      if (touchedMan.buckets.isEmpty) None
      else Some(resolveBuckets(spark, touchedMan)
        .withColumn("__b", bucketCol(keys)))
    val tagged = upd.withColumn("__new", lit(1))
    val merged = prevTouched match {
      case None => tagged
      case Some(p) => p.withColumn("__new", lit(0)).unionByName(tagged)
    }
    val w = Window.partitionBy((keys :+ "__b").map(col): _*)
      .orderBy(col("__new").desc, col(orderCol).desc)
    if (touched.nonEmpty) {
      merged.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .drop("__rk", "__new")
        .write.partitionBy("__b").mode("overwrite")
        .parquet(s"$dir/data/v$nextV")
    }
    // Manifest: touched buckets point at this version's fresh files
    // with an EMPTY chain (compaction), untouched carry the previous
    // base + chain forward by reference.
    val newBuckets = prevMan.buckets ++
      touched.map(k => k -> ((s"$dir/data/v$nextV/__b=$k", Seq.empty[String]))).toMap
    writeManifest(dir, nextV, keys, newBuckets)
    nextV
  }

  /** Chain-length bound: a bucket whose delta chain would exceed this
    * is compacted (base rewrite) within the same row-level commit, so
    * read amplification stays O(MaxDeltaChain) per bucket forever. */
  val MaxDeltaChain = 8

  /** Row-level MERGE — the deletion-vector-style trickle-upsert path
    * (what Delta deletion vectors / Iceberg v2 position deletes do
    * for small hot batches): instead of rewriting every touched
    * bucket (KB of updates → GB of rewrite at 100 TB), the batch is
    * resolved to rank-1 per key, bucketed, and landed AS a delta
    * generation stacked on each touched bucket's chain — commit cost
    * is O(batch) bytes regardless of bucket size. A key's newer
    * generation supersedes the older ones at read time (the
    * [[resolveBuckets]] highest-generation-wins window — the
    * "deletion vector" is the delta's own key set, applied as an
    * anti-join by rank). Reads resolve transparently through
    * [[asOf]]/[[latest]]; [[merge]] compacts chains on its next
    * bucket rewrite; buckets whose chain would exceed
    * [[MaxDeltaChain]] compact inline here, bounding read
    * amplification. Results are spec-pinned equal to [[merge]]'s
    * version by version. Returns the committed version id. */
  def mergeRowLevel(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String], orderCol: String): Long = {
    import org.apache.spark.sql.expressions.Window
    val prevV = latestVersion(dir)
    val nextV = prevV.map(_ + 1L).getOrElse(0L)
    val prevMan = prevV.map(manifestFull(dir, _))
      .getOrElse(Manifest(keys, Map.empty))
    val upd = updates.withColumn("__b", bucketCol(keys))
    val touched = upd.select(col("__b")).distinct()
      .collect().map(_.getLong(0)).sorted
    if (touched.isEmpty && prevV.isDefined) return prevV.get
    // Land the resolved batch as one delta generation, bucketed like
    // the bases so chains stay per-bucket paths.
    val wb = Window.partitionBy((keys :+ "__b").map(col): _*)
      .orderBy(col(orderCol).desc)
    if (touched.nonEmpty) {
      upd.withColumn("__rk", row_number().over(wb))
        .filter(col("__rk") === 1).drop("__rk")
        .write.partitionBy("__b").mode("overwrite")
        .parquet(s"$dir/data/v$nextV/__delta")
    }
    val stacked = prevMan.buckets ++ touched.map { k =>
      val delta = s"$dir/data/v$nextV/__delta/__b=$k"
      prevMan.buckets.get(k) match {
        case None => k -> ((delta, Seq.empty[String])) // first generation IS the base
        case Some((base, chain)) => k -> ((base, chain :+ delta))
      }
    }.toMap
    // Inline compaction of over-long chains: rewrite just those
    // buckets' resolved rows as a fresh base under this version.
    val overflowing = stacked.filter(_._2._2.size > MaxDeltaChain).keys.toSeq.sorted
    val newBuckets =
      if (overflowing.isEmpty) stacked
      else {
        val man = Manifest(if (prevMan.keys.nonEmpty) prevMan.keys else keys,
          stacked.filter(e => overflowing.contains(e._1)))
        resolveBuckets(spark, man)
          .withColumn("__b", bucketCol(keys))
          .write.partitionBy("__b").mode("overwrite")
          .parquet(s"$dir/data/v$nextV/__compact")
        stacked ++ overflowing.map(k =>
          k -> ((s"$dir/data/v$nextV/__compact/__b=$k", Seq.empty[String]))).toMap
      }
    writeManifest(dir, nextV, keys, newBuckets)
    nextV
  }

  /** Retention: expire manifests older than the newest `keepLast`
    * and delete every bucket generation no surviving manifest
    * references. The latest version always survives. */
  def vacuum(dir: String, keepLast: Int = 2): Seq[Long] = {
    require(keepLast >= 1,
      s"vacuum keepLast=$keepLast would expire the latest version")
    val vs = versions(dir)
    val expired = vs.dropRight(keepLast)
    val survivors = vs.drop(math.max(vs.size - keepLast, 0))
    // Reference set covers BOTH base generations and every delta-chain
    // path — a surviving manifest's chain must outlive vacuum even
    // when the version that landed the delta has expired.
    val referenced = survivors.flatMap { v =>
      manifestFull(dir, v).buckets.values.flatMap { case (base, chain) =>
        base +: chain
      }
    }.toSet
    expired.foreach(v => commitMarker(dir, v).delete(): Unit)
    val dataRoot = new java.io.File(s"$dir/data")
    if (dataRoot.isDirectory) {
      // Generation units are __b=<k> dirs, either directly under the
      // version dir (bases) or nested under __delta/__compact
      // (row-level generations) — sweep at unit granularity.
      for {
        vdir <- dataRoot.listFiles().toSeq if vdir.isDirectory
        child <- vdir.listFiles().toSeq if child.isDirectory
      } {
        if (child.getName.startsWith("__b=")) {
          if (!referenced.contains(child.getPath)) graft.SideOutput.delete(child)
        } else {
          for (unit <- child.listFiles().toSeq
               if unit.isDirectory && unit.getName.startsWith("__b=")
               if !referenced.contains(unit.getPath))
            graft.SideOutput.delete(unit)
          if (child.listFiles().forall(f => !f.getName.startsWith("__b=")))
            graft.SideOutput.delete(child)
        }
      }
      // Sweep a version dir only once NO bucket generation survives
      // ANYWHERE in it (directly or nested). Bucket dirs are named
      // __b=<k> — they start with "_" too, so the old "all children
      // start with _" test would have deleted still-referenced
      // generations on a filesystem/committer that leaves no
      // .crc/._SUCCESS files.
      def holdsGeneration(d: java.io.File): Boolean =
        d.listFiles().exists(f => f.isDirectory &&
          (f.getName.startsWith("__b=") || holdsGeneration(f)))
      dataRoot.listFiles().filter(d => d.isDirectory && !holdsGeneration(d))
        .foreach(graft.SideOutput.delete)
    }
    expired
  }

  /** Query entry (`src_bucketed_merge`): the src_time_travel fixture
    * flow — three deterministic upsert batches (batch id =
    * o_orderkey mod 3) — through the BUCKETED table, with the same
    * per-version (n_keys, sum_price) readout and the same SQL
    * oracle: identical answers from a layout that rewrote only
    * touched buckets per merge. */
  def qBucketedMerge(spark: SparkSession, dir: String): DataFrame = {
    val tdir = graft.SideOutput("btab", s"$dir/orders.parquet") { tdir =>
      val orders = graft.Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      (0 to 2).foreach { b =>
        merge(spark, tdir,
          orders.filter(pmod(col("o_orderkey"), lit(3)) === b),
          keys = Seq("o_custkey"), orderCol = "o_orderkey")
      }
    }
    versions(tdir).map { v =>
      asOf(spark, tdir, v)
        .agg(count(lit(1)).as("n_keys"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .select(lit(v).as("ver"), col("n_keys"), col("sum_price"))
    }.reduce(_.unionByName(_)).orderBy(col("ver"))
  }

  /** Query entry (`src_dv_merge`): the [[qBucketedMerge]] fixture
    * flow — the same three deterministic upsert batches — through the
    * ROW-LEVEL merge path, same per-version readout, same SQL oracle:
    * identical answers from commits that never rewrote a bucket
    * (batch 0 lands the bases; batches 1–2 stack delta generations
    * resolved at read time). The oracle equality IS the
    * deletion-vector correctness proof at corpus scale; the O(batch)
    * commit-cost and vacuum contracts are spec-pinned on planted
    * tables (BucketedTableSpec). */
  def qDvMerge(spark: SparkSession, dir: String): DataFrame = {
    val tdir = graft.SideOutput("dvtab", s"$dir/orders.parquet") { tdir =>
      val orders = graft.Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      (0 to 2).foreach { b =>
        mergeRowLevel(spark, tdir,
          orders.filter(pmod(col("o_orderkey"), lit(3)) === b),
          keys = Seq("o_custkey"), orderCol = "o_orderkey")
      }
    }
    versions(tdir).map { v =>
      asOf(spark, tdir, v)
        .agg(count(lit(1)).as("n_keys"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .select(lit(v).as("ver"), col("n_keys"), col("sum_price"))
    }.reduce(_.unionByName(_)).orderBy(col("ver"))
  }
}
