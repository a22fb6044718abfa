package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure contract (round-9 lesson — a silent exit-0 with missing
  * subdirectories hid 25 broken queries): every failed query still
  * gets its `outDir/<name>/` directory (empty → the compare counts it
  * as a FAIL instead of skipping it), the message lands in
  * `outDir/errors.json`, and the process exits nonzero.
  */
object Verify {
  /** Stable fingerprint of the testdata the run executed against:
    * per-table (length, mtime, column:type list). A driver-side
    * testdata regeneration then shows up as a fingerprint mismatch in
    * later compares instead of silently staling every artifact
    * (CORRECTNESS_SF01_r09 claimed 159/159 against data that no
    * longer existed). */
  private[graft] def testdataFingerprint(spark: SparkSession, sfDir: String): Map[String, (Long, Long, String)] = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.map { t =>
      val f = new java.io.File(s"$sfDir/$t.parquet")
      val schema =
        try {
          val st = if (t == "events") Tables.eventsRawSchema(spark, sfDir)
                   else spark.read.parquet(f.getPath).schema
          st.fields.map(fl => s"${fl.name}:${fl.dataType.simpleString}").mkString(",")
        } catch { case e: Throwable => s"unreadable:${e.getClass.getSimpleName}" }
      t -> ((f.length(), f.lastModified(), schema))
    }.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def fingerprintJson(fp: Map[String, (Long, Long, String)]): String =
    fp.toSeq.sortBy(_._1).map { case (t, (len, mtime, schema)) =>
      s"${jq(t)}: {" + "\"len\": " + len + ", \"mtime_ms\": " + mtime +
        s", ${jq("schema")}: ${jq(schema)}}"
    }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query subset for fast local
    // iteration (mirrors compare.py's `only` filter). Driver passes 2.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    SideOutput.dropOrphans()
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"verify: $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = String.valueOf(e).take(500)
        // Leave an EMPTY result directory: the compare's parquet glob
        // finds nothing and reports FAIL — the query stays in the
        // denominator instead of vanishing from the artifact.
        val d = new java.io.File(s"$outDir/$name")
        if (d.isDirectory) d.listFiles().foreach(f => { f.delete(): Unit })
        d.mkdirs()
      }
      // Same per-query scratch-state sweep as Bench: 50+ queries of
      // leftover localCheckpoint blocks add up in an 8 GiB heap.
      Memo.sweep(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The full query-name list, so the compare can restrict its
    // rows-only pass to CURRENT queries: stale outdir subdirectories
    // from renamed/removed queries must not count as passes.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(jq).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/fingerprint.json"),
      fingerprintJson(testdataFingerprint(spark, sfDir)))
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
