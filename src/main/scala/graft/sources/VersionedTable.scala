package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal versioned keyed table: MERGE (upsert) + time travel — the
  * transactional-table capability (VERDICT-r9 missing item 2) that
  * `q_merge_upsert` (one-shot) and `s_stream_cdc` (streaming
  * snapshots) gesture at, as a reusable layer.
  *
  * Layout: `dir/v<N>/` parquet snapshots plus a `_commit_<N>` marker
  * written AFTER the snapshot — readers resolve the latest version
  * from commit markers only, so a torn write (snapshot directory
  * without its marker) is invisible rather than corrupting reads;
  * re-merging the same version id overwrites both, which is what
  * makes replay idempotent. This is copy-on-write at SNAPSHOT
  * granularity — the honest local stand-in for a table format's
  * row-level MERGE: semantics (upsert by key, deterministic
  * in-batch winner, versioned time travel) are identical, and a
  * Delta/Iceberg target would replace the full rewrite with
  * file-level copy-on-write under the same API.
  *
  * MERGE semantics: new version = rank-1 per `keys` over
  * (previous snapshot ∪ updates), updates winning over existing rows,
  * ties WITHIN the update batch broken by `orderCol` DESCENDING (the
  * unique-sort-key oracle rule — callers pass a unique column).
  */
object VersionedTable {

  private def commitMarker(dir: String, v: Long) =
    new java.io.File(s"$dir/_commit_$v")

  /** Committed versions, ascending (snapshot dirs without their
    * marker — torn writes — are excluded). */
  def versions(dir: String): Seq[Long] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq
      .filter(f => f.getName.startsWith("_commit_"))
      .map(_.getName.stripPrefix("_commit_").toLong)
      .sorted
  }

  def latestVersion(dir: String): Option[Long] = versions(dir).lastOption

  /** Time-travel read of committed version `v`. Fails loudly for a
    * vacuumed (or never-committed) version — a silent fallback to
    * another snapshot would corrupt downstream reprocessing. */
  def asOf(spark: SparkSession, dir: String, v: Long): DataFrame = {
    require(commitMarker(dir, v).exists(),
      s"version $v of $dir does not exist: never committed, or expired by vacuum")
    spark.read.parquet(s"$dir/v$v")
  }

  /** Retention: expire every committed version except the newest
    * `keepLast` (the version-horizon guard — at least the latest
    * always survives; `keepLast < 1` is refused). Returns the
    * expired ids. The marker deletes FIRST, then the snapshot
    * directory — the same torn-write discipline as merge's
    * commit-after-snapshot: a vacuum interrupted between the two
    * leaves an orphan snapshot that readers already treat as
    * nonexistent, never a marker pointing at missing data. After
    * expiry, `asOf` on an expired version fails loudly ([[asOf]]);
    * surviving snapshots are untouched bytes on disk. */
  def vacuum(dir: String, keepLast: Int = 2): Seq[Long] = {
    require(keepLast >= 1,
      s"vacuum keepLast=$keepLast would expire the latest version")
    val expired = versions(dir).dropRight(keepLast)
    expired.foreach { v =>
      commitMarker(dir, v).delete(): Unit
      graft.SideOutput.delete(new java.io.File(s"$dir/v$v"))
    }
    expired
  }

  def latest(spark: SparkSession, dir: String): DataFrame =
    asOf(spark, dir, latestVersion(dir).getOrElse(
      throw new IllegalStateException(s"$dir has no committed versions")))

  /** MERGE `updates` into the table, producing (and returning the id
    * of) a new committed version. First merge of an empty table
    * creates v0 from the updates alone. */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String], orderCol: String): Long = {
    import org.apache.spark.sql.expressions.Window
    val prevV = latestVersion(dir)
    val nextV = prevV.map(_ + 1L).getOrElse(0L)
    val tagged = updates.withColumn("__new", lit(1))
    val merged = prevV match {
      case None => tagged
      case Some(pv) =>
        asOf(spark, dir, pv).withColumn("__new", lit(0)).unionByName(tagged)
    }
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__new").desc, col(orderCol).desc)
    merged.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "__new")
      .write.mode("overwrite").parquet(s"$dir/v$nextV")
    // Commit AFTER the snapshot lands: readers never see a torn write.
    commitMarker(dir, nextV).createNewFile(): Unit
    nextV
  }

  /** The shared 3-version fixture table (batch id = o_orderkey mod 3,
    * merged in order), built once per SF dir and keyed by the source
    * file identity so regenerated testdata rebuilds it instead of
    * serving stale versions. */
  private def fixtureDir(spark: SparkSession, dir: String): String =
    graft.SideOutput("vtab", s"$dir/orders.parquet") { tdir =>
      val orders = graft.Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      (0 to 2).foreach { b =>
        merge(spark, tdir,
          orders.filter(pmod(col("o_orderkey"), lit(3)) === b),
          keys = Seq("o_custkey"), orderCol = "o_orderkey")
      }
    }

  /** Query entry (`src_time_travel`): three deterministic upsert
    * batches of orders (batch id = o_orderkey mod 3, applied in
    * order) merged into a per-SF-dir fixture table, then ONE
    * time-travel aggregate per committed version — count of live
    * keys and their summed totalprice as of v0, v1, v2. Exercises
    * merge, commit-marker resolution and asOf on every run; the
    * fixture is keyed by the source file identity so regenerated
    * testdata rebuilds it instead of serving stale versions. */
  def qTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val tdir = fixtureDir(spark, dir)
    versions(tdir).map { v =>
      asOf(spark, tdir, v)
        .agg(count(lit(1)).as("n_keys"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .select(lit(v).as("ver"), col("n_keys"), col("sum_price"))
    }.reduce(_.unionByName(_)).orderBy(col("ver"))
  }

  /** Keyed row-level diff of two snapshots — the CDC readout a table
    * format derives from its transaction log, recovered here by
    * comparison. NOT a full outer join: both snapshots union into one
    * stream and a single key-grouped aggregation classifies each key
    * (added / changed / unchanged / deleted) — one shuffle, narrow
    * rows, no join-skew surface. `valueCols` compare per column;
    * a key is changed when ANY compared column differs. */
  def diffCounts(old: DataFrame, now: DataFrame, keys: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val proj = (keys ++ valueCols).map(col)
    val u = old.select(proj: _*).withColumn("__side", lit(0))
      .unionByName(now.select(proj: _*).withColumn("__side", lit(1)))
    val aggs = Seq(
      max(when(col("__side") === 0, lit(1)).otherwise(lit(0))).as("has_old"),
      max(when(col("__side") === 1, lit(1)).otherwise(lit(0))).as("has_new")) ++
      valueCols.flatMap(c => Seq(
        max(when(col("__side") === 0, col(c))).as(s"__o_$c"),
        max(when(col("__side") === 1, col(c))).as(s"__n_$c")))
    val g = u.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val same = valueCols.map(c => col(s"__o_$c") === col(s"__n_$c")).reduce(_ && _)
    val both = col("has_old") === 1 && col("has_new") === 1
    g.agg(
      sum(when(col("has_old") === 0, 1L).otherwise(0L)).as("n_added"),
      sum(when(both && !same, 1L).otherwise(0L)).as("n_changed"),
      sum(when(both && same, 1L).otherwise(0L)).as("n_unchanged"),
      sum(when(col("has_new") === 0, 1L).otherwise(0L)).as("n_deleted"))
  }

  /** SCD Type-2 history derived from the committed snapshots — the
    * warehouse-dimension shape: one row per (key, value-state) run
    * with [valid_from, valid_to) version bounds, current rows closed
    * at the version horizon (exclusive `nVersions`, so bounds stay
    * integers — no null sentinel in the compare). A key's row opens
    * at its first version or whenever any tracked column changes
    * vs the key's previous version; `valid_to` is the NEXT change's
    * version. One union of the snapshots + two windows on the same
    * (key, ver) partitioning — no joins. */
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tdir = fixtureDir(spark, dir)
    val vs = versions(tdir)
    val all = vs.map { v =>
      asOf(spark, tdir, v).select(lit(v).as("ver"), col("o_custkey"),
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    }.reduce(_.unionByName(_))
    val byKey = Window.partitionBy(col("o_custkey")).orderBy(col("ver"))
    val changed = col("prev_ok").isNull ||
      col("o_orderkey") =!= col("prev_ok") || col("cents") =!= col("prev_c")
    all
      .withColumn("prev_ok", lag(col("o_orderkey"), 1).over(byKey))
      .withColumn("prev_c", lag(col("cents"), 1).over(byKey))
      .filter(changed)
      .withColumn("valid_to",
        coalesce(lead(col("ver"), 1).over(byKey), lit(vs.size.toLong)))
      .select(col("o_custkey"), col("o_orderkey"), col("cents"),
        col("ver").as("valid_from"), col("valid_to"))
      .orderBy(col("o_custkey"), col("valid_from"))
  }

  /** Query entry (`q_snapshot_diff`): the CDC classification for each
    * consecutive version pair of the shared fixture table. Upsert-only
    * merges mean n_deleted = 0 here; the planted spec covers deletes. */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val tdir = fixtureDir(spark, dir)
    versions(tdir).sliding(2).collect { case Seq(a, b) =>
      diffCounts(asOf(spark, tdir, a), asOf(spark, tdir, b),
        keys = Seq("o_custkey"), valueCols = Seq("o_orderkey", "o_totalprice"))
        .select(lit(a).as("from_v"), lit(b).as("to_v"), col("n_added"),
          col("n_changed"), col("n_unchanged"), col("n_deleted"))
    }.reduce(_.unionByName(_)).orderBy(col("from_v"))
  }
}
