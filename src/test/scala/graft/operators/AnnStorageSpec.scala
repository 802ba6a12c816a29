package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Substantiates the SCALE.md IVF serving claim: "repartition the corpus BY
  * cell and bucket-store it; a query then touches nProbe partitions only."
  * Writes the cell-assigned corpus hive-partitioned by cell, then proves a
  * probe (a) plans a PartitionFilter, (b) physically reads files ONLY from
  * the probed cells, and (c) serves exactly the candidates the in-memory
  * cell filter would. */
class AnnStorageSpec extends SparkSpec {

  test("IVF cell-partitioned store: a query touches only its nProbe partitions") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val c = Similarity.withNorm(emb)
    val cents = Similarity.coarseCentroidsSqrt(c)
    val cells = Similarity.assignCells(c, cents).cache()
    try {
      val dir = java.nio.file.Files.createTempDirectory("ivf-store").toString
      cells.select(col("vec_id"), col("v"), col("nrm"), col("c_id"))
        .write.partitionBy("c_id").mode("overwrite").parquet(dir)
      val store = spark.read.parquet(dir)
      val nCells = cells.select(col("c_id")).distinct().count()
      assert(nCells > 3, s"need more cells than probes, got $nCells")

      // the cells one query would probe (nProbe = 3)
      val probedCells = Similarity
        .probeCells(c.filter(col("vec_id") === 1), cents, "vec_id", 3)
        .select(col("c_id")).collect().map(_.getLong(0)).toSeq
      assert(probedCells.size == 3)

      val probed = store.filter(col("c_id").isin(probedCells: _*))
      // (a) the cell predicate prunes at PLANNING time, not per-row
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), plan.take(400))
      // (b) only probed-cell files are physically read
      val touched = probed.select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0)).toSet
      assert(touched.nonEmpty)
      assert(touched.forall(f =>
        probedCells.exists(cid => f.contains(s"c_id=$cid"))), touched)
      // (c) the pruned store serves exactly the in-memory candidate set
      val fromStore = probed.select(col("vec_id")).collect()
        .map(_.getLong(0)).toSet
      val inMem = cells.filter(col("c_id").isin(probedCells: _*))
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      assert(fromStore == inMem && fromStore.nonEmpty)
    } finally cells.unpersist()
  }
}
