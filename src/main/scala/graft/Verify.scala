package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(s"[verify] master=${spark.sparkContext.master} " +
      s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")}")
    new java.io.File(outDir).mkdirs()
    // dev aid (driver never sets it): restrict to a comma-separated name list
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // dev aid (driver never sets it): exclude a comma-separated name list —
    // used by the big-SF sweeps to hold out the gated quadratic
    // `_oracle_baseline` twins whose OUTPUT is itself quadratic (e.g.
    // dedup_embedding_cosine_oracle_baseline emits ~2e9 pairs at 200k
    // vectors: not comparable at any engine speed). Every skip must be
    // named + justified in BENCH_NOTES for the sweep that used it.
    val skip = sys.env.get("SPARK_GRAFT_VERIFY_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val selected = (only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }).view.filterKeys(!skip(_)).toMap
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the dedup pipelines cache shared subtrees (shingle/band indexes)
      // scoped to one query; release them so 90 queries don't accumulate
      // executor storage across the run
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
