package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._

/** Generates QUERIES.md — the one-page index of the whole query catalog
  * (VERDICT r9 item 7: 214 queries were documented across SURVEY §8 prose,
  * SCALE.md, and BENCH_NOTES, but a user couldn't scan them). One row per
  * catalog query: name, one-liner, family, operator class (derived from the
  * optimized logical plan, so it can't drift from the code), and the
  * family's SCALE.md contract section. CatalogSpec asserts the file stays
  * complete. `sbt "runMain graft.QueriesDoc <sfDir>"`, run on the sf0.001
  * tables (the class tags come from planning each query over `sfDir`). */
object QueriesDoc {

  /** (family label, defs, SCALE.md section anchor). The concatenation must
    * equal SparkEntry.catalog exactly — CatalogSpec enforces it so a new
    * module can't land without an index family. */
  def families: Seq[(String, Seq[QueryDef], String)] = Seq(
    ("Serving / dashboard", operators.Serving.defs,
      "Aggregation (D1/D2/D5/D6, q1, tumbling/sliding/session)"),
    ("Ingest", operators.Ingest.defs, "Ingest (AIS decode, A-rows)"),
    ("Relational (TPC-H core)", operators.Relational.defs, "Joins"),
    ("Relational (TPC-H full suite)", operators.TpchMore.defs, "Joins"),
    ("Advanced relational", operators.Advanced.defs, "Joins"),
    ("Prefix aggregates", operators.PrefixAgg.defs, "Joins"),
    ("Skew handling", operators.Skew.defs,
      "Aggregation (D1/D2/D5/D6, q1, tumbling/sliding/session)"),
    ("Sketches / approximate", operators.Sketches.defs,
      "Aggregation (D1/D2/D5/D6, q1, tumbling/sliding/session)"),
    ("AIS pipeline", operators.AisThroughput.defs, "Ingest (AIS decode, A-rows)"),
    ("Geospatial", operators.Geo.defs, "Geospatial"),
    ("Behavioral analytics", operators.Analytics.defs,
      "Retrieval / analytics scoring"),
    ("Deduplication", operators.Dedup.defs, "Dedup at corpus scale"),
    ("Similarity / ANN / embeddings", operators.Similarity.defs,
      "Similarity search"),
    ("Text analysis", operators.TextAnalysis.defs,
      "Text analysis / multimodal"),
    ("Pipeline assembly", operators.Pipeline.defs, "Pipeline assembly"),
    ("Warehouse / governance", operators.Warehouse.defs,
      "Warehouse maintenance"),
    ("Curation", operators.Curation.defs,
      "Curation (decontaminate/fuzzy-match/novelty/interleave)"),
    ("LM data prep", operators.LmData.defs, "Text analysis / multimodal"),
    ("Retrieval", operators.Retrieval.defs, "Retrieval / analytics scoring"),
    ("Graph", operators.Graph.defs, "Graph analytics (token graph family)"),
    ("ML prep", operators.MlPrep.defs, "Pipeline assembly"),
    ("Evaluation", operators.Eval.defs, "Retrieval / analytics scoring"),
    ("Time series", operators.TimeSeries.defs,
      "Time series (per-series daily grids)"),
    ("Multimodal", multimodal.Media.defs, "Text analysis / multimodal"))

  /** Coarse operator-class tags from the optimized logical plan — derived,
    * not hand-written, so the column can't go stale. */
  def planTags(spark: SparkSession, q: QueryDef, sfDir: String): String = {
    val plan = q.run(spark, sfDir).queryExecution.optimizedPlan
    val tags = scala.collection.mutable.LinkedHashSet.empty[String]
    plan.foreach {
      case j: Join => tags += (j.joinType match {
        case org.apache.spark.sql.catalyst.plans.LeftSemi => "semi-join"
        case org.apache.spark.sql.catalyst.plans.LeftAnti => "anti-join"
        case _ => "join"
      })
      case _: Aggregate => tags += "agg"
      case _: Window => tags += "window"
      case _: Generate => tags += "explode"
      case _: GlobalLimit => tags += "limit"
      case _: Sort => tags += "sort"
      case _: Union => tags += "union"
      case _: Distinct | _: Deduplicate => tags += "distinct"
      case p if p.getClass.getName.startsWith("graft.") => tags += "custom-plan"
      case _: DeserializeToObject | _: MapGroups | _: MapPartitions |
           _: FlatMapGroupsWithState => tags += "typed"
      case _ =>
    }
    if (tags.isEmpty) "scan" else tags.mkString("+")
  }

  /** Module source file per family label — the impl-cite column of the
    * generated SURVEY §8.3 catalog-state table. A new family must add its
    * file here (the generator fails loudly otherwise). */
  private val familyFile: Map[String, String] = Map(
    "Serving / dashboard" -> "operators/Serving.scala",
    "Ingest" -> "operators/Ingest.scala",
    "Relational (TPC-H core)" -> "operators/Relational.scala",
    "Relational (TPC-H full suite)" -> "operators/TpchMore.scala",
    "Advanced relational" -> "operators/Advanced.scala",
    "Prefix aggregates" -> "operators/PrefixAgg.scala, plans/RangeAgg.scala",
    "Skew handling" -> "operators/Skew.scala",
    "Sketches / approximate" -> "operators/Sketches.scala",
    "AIS pipeline" -> "operators/AisThroughput.scala",
    "Geospatial" -> "operators/Geo.scala",
    "Behavioral analytics" -> "operators/Analytics.scala",
    "Deduplication" -> "operators/Dedup.scala",
    "Similarity / ANN / embeddings" -> "operators/Similarity.scala",
    "Text analysis" -> "operators/TextAnalysis.scala",
    "Pipeline assembly" -> "operators/Pipeline.scala",
    "Warehouse / governance" -> "operators/Warehouse.scala",
    "Curation" -> "operators/Curation.scala",
    "LM data prep" -> "operators/LmData.scala",
    "Retrieval" -> "operators/Retrieval.scala",
    "Graph" -> "operators/Graph.scala",
    "ML prep" -> "operators/MlPrep.scala",
    "Evaluation" -> "operators/Eval.scala",
    "Time series" -> "operators/TimeSeries.scala",
    "Multimodal" -> "multimodal/Media.scala")

  /** Correctness-gate evidence per query for the §8.3 table: the default
    * is the full ladder; exceptions are listed here WITH their artifact.
    * (The streaming/IO §2 rows live in SURVEY §8.1, not this table —
    * this covers the oracled catalog.) */
  private val gateDefault = "0.001–10 (driver gates + sf1/sf10 sweeps)"
  private val gateExceptions: Map[String, String] = Map(
    "dedup_ngram_jaccard_oracle_baseline" ->
      "full ≤ sf1; sf10+ via the `_stripe` twin (compute-quadratic)",
    "dedup_embedding_cosine_oracle_baseline" ->
      "full ≤ sf1; sf10+ via the `_stripe` twin (output-quadratic)",
    "embedding_topk_pairs_oracle_baseline" ->
      "full ≤ sf1; sf10+ via the `_stripe` twin (compute-quadratic)")

  /** The generated catalog-state block for SURVEY.md §8.3 (VERDICT r11
    * item 8: the coverage map had grown into a 700-line append-log; round
    * history now lives in CHANGELOG.md and this table is regenerated —
    * never hand-edited — alongside QUERIES.md). */
  private def surveySection(): String = {
    val sb = new StringBuilder
    sb.append(s"${SparkEntry.catalog.length} oracled queries, " +
      s"${families.length} families. Generated by `sbt \"runMain " +
      "graft.QueriesDoc <sfDir>\"` (CatalogSpec asserts completeness). Columns: " +
      "implementation module under `src/main/scala/graft/`, and the " +
      "correctness gates the query is green under (QUERIES.md carries " +
      "the per-query one-liners; SCALE.md the 100 TB contracts).\n")
    families.foreach { case (fam, defs, _) =>
      val file = familyFile.getOrElse(fam,
        sys.error(s"familyFile missing entry for family '$fam'"))
      sb.append(s"\n**$fam** — `$file`\n\n")
      sb.append("| query | gates |\n|---|---|\n")
      defs.foreach { q =>
        val gate = gateExceptions.getOrElse(q.name, gateDefault)
        sb.append(s"| `${q.name}` | $gate |\n")
      }
    }
    sb.toString
  }

  private val beginMark = "<!-- generated:catalog-state:begin -->"
  private val endMark = "<!-- generated:catalog-state:end -->"

  /** Rewrites the marker-delimited block of SURVEY.md §8.3 in place. */
  private def writeSurveyBlock(): Unit = {
    val p = Paths.get("SURVEY.md")
    val md = Files.readString(p)
    val b = md.indexOf(beginMark)
    val e = md.indexOf(endMark)
    require(b >= 0 && e > b, "SURVEY.md lost the catalog-state markers")
    Files.writeString(p, md.substring(0, b + beginMark.length) + "\n" +
      surveySection() + md.substring(e))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir) = args
    val spark = Graft.session("local[2]", 2)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    val total = SparkEntry.catalog.length
    sb.append("# QUERIES — catalog index\n\n")
    sb.append(s"All $total oracle-gated queries, one row each. Generated by " +
      "`sbt \"runMain graft.QueriesDoc <sfDir>\"` (CatalogSpec asserts completeness " +
      "— regenerate after adding a query). Class tags derive from the " +
      "optimized logical plan. The Scale column names the SCALE.md section " +
      "carrying the family's 100 TB contract; `*_oracle_baseline` twins are " +
      "gated ground truth (quadratic by design, never the default API).\n")
    families.foreach { case (fam, defs, scaleSec) =>
      sb.append(s"\n## $fam\n\n")
      sb.append(s"Scale contract: SCALE.md §“$scaleSec”\n\n")
      sb.append("| query | what it computes | class |\n|---|---|---|\n")
      defs.foreach { q =>
        val doc = q.doc.replace("|", "\\|")
        sb.append(s"| `${q.name}` | $doc | ${planTags(spark, q, sfDir)} |\n")
      }
    }
    Files.writeString(Paths.get("QUERIES.md"), sb.toString)
    writeSurveyBlock()
    println(s"wrote QUERIES.md + SURVEY.md §8.3 block " +
      s"($total queries, ${families.length} families)")
    spark.stop()
  }
}
