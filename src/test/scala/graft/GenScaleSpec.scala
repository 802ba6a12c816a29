package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The corpus law GenScale regenerates documents and embeddings with: row
  * counts at mult 1, the planted exact and near-duplicate docs, the planted
  * near-neighbor vectors, and the guard that refuses a `fromDir` below the
  * sf0.1 corpus base before anything is written. */
class GenScaleSpec extends SparkSpec {

  private def hasParquet(dir: Path): Boolean = {
    val s = Files.walk(dir)
    try s.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  test("genDocuments plants an exact copy every 100th doc and a one-token mutation every 20th") {
    val dir = Files.createTempDirectory("genscale-docs").toString
    GenScale.genDocuments(spark, dir, 1)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(docs.count() == 5000L)
    val text = docs.filter(col("doc_id").isin(18L, 19L, 98L, 99L))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .toMap
    assert(text(99L) == text(98L))
    val t18 = text(18L).split(" ")
    val t19 = text(19L).split(" ")
    assert(t19.length == t18.length)
    val diff = t18.indices.filter(i => t18(i) != t19(i))
    assert(diff.length == 1)
    assert(t19(diff.head) == "mutated")
    assert(GenScale.docText(19L) == text(19L))
  }

  test("genEmbeddings plants a near-copy every 50th vector, off by 0.01 in dim 0 only") {
    val dir = Files.createTempDirectory("genscale-vecs").toString
    GenScale.genEmbeddings(spark, dir, 1)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(vecs.count() == 2000L)
    assert(vecs.filter(size(col("embedding")) =!= 64).isEmpty)
    val v = vecs.filter(col("vec_id").isin(48L, 49L)).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1)).toMap
    assert((1 until 64).forall(d => v(49L)(d) == v(48L)(d)))
    assert(math.abs(v(49L)(0) - v(48L)(0) - 0.01) < 1e-5)
  }

  test("run refuses a fromDir below the sf0.1 corpus base before writing anything") {
    val to = Files.createTempDirectory("genscale-to")
    intercept[IllegalArgumentException] {
      GenScale.run(spark, sf("sf0.001"), to.toString, 10)
    }
    assert(!hasParquet(to))
  }
}
