package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-schema scale-up generator: derives an sf-N dataset (all 10 TESTDATA
  * tables) from an existing driver drop, for scale rehearsals beyond the
  * largest driver-provided sf. Two regimes, chosen per table by what keeps
  * the catalog's semantics meaningful at the larger size:
  *
  * - TPC-H tables + events: REPLICATE-with-key-shift. Each of `mult`
  *   replicas shifts every dense 0-based key by `i * |table|` (foreign keys
  *   shift by the referenced table's size, so referential integrity and
  *   per-key group sizes are preserved exactly — the TPC-H scaling law:
  *   more customers/orders/parts, same value distributions, same fixed date
  *   window). Key-derived names (Customer#…, Supplier#…) are re-derived
  *   from the shifted key so name↔key stays bijective. `region`/`nation`
  *   are fixed-size dimensions and copy through unchanged.
  * - documents / embeddings: regenerated by the corpus law below
  *   ([[genDocuments]], [[genEmbeddings]]) at `mult` x the sf0.1 size
  *   (5000 docs / 2000 vectors). Replicating a text/vector corpus would
  *   plant `mult` exact copies of EVERY doc — a degenerate dedup input (each
  *   LSH bucket's pair count inflates quadratically) that tests the
  *   hot-bucket guard, not the scaling law; the corpus law instead holds
  *   the ~5% planted near-dup density invariant while scaling rows.
  *
  * Correctness at the new scale is still oracle-gated: the DuckDB compare
  * runs over the SAME generated parquet, so the check is self-consistent by
  * construction — what it buys is evidence that every query's plan, cache
  * sizing, and determinism conventions (tie-pinned orderings, decimal
  * widths, percentile interpolation) survive 10x the judged volume.
  *
  * Usage: runMain graft.GenScale <fromDir> <toDir> [mult=10]
  */
object GenScale {

  /** Replicate `df` `mult` times, shifting each column in `shifts` by
    * `i * size` for replica i (size = the referenced table's base count). */
  private def replicate(df: DataFrame, mult: Int,
      shifts: Map[String, Long]): DataFrame = {
    val rep = df.withColumn("rep",
      explode(sequence(lit(0L), lit((mult - 1).toLong))))
    val out = shifts.foldLeft(rep) { case (d, (c, size)) =>
      d.withColumn(c, col(c) + col("rep") * size)
    }
    out.drop("rep")
  }

  def run(spark: SparkSession, fromDir: String, toDir: String, mult: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$fromDir/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int = 32): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$toDir/$t.parquet")

    // the corpus law sizes by mult RELATIVE TO the sf0.1 base (5000 docs /
    // 2000 vectors); when fromDir is itself a generated scale-up (sf1 ->
    // sf10), compose the multipliers so the corpus keeps pace with the
    // relational tables instead of silently re-emitting the source size
    val nDocsSrc = read("documents").count()
    // guard: a fromDir below the sf0.1 corpus base (5000 docs — e.g. a
    // driver sf0.01/sf0.001 drop) would truncate corpusMult to 0 and
    // silently emit an EMPTY corpus that trivially passes every dedup
    // oracle; fail loudly, and before anything is written to toDir
    require(nDocsSrc >= 5000L,
      s"fromDir corpus has $nDocsSrc docs < 5000 (the sf0.1 base the " +
        "corpus law scales from); pass an sf>=0.1 dir as fromDir")
    val corpusMult = ((nDocsSrc / 5000L) * mult).toInt

    // fixed-size dimensions: copy through
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    val nCust = read("customer").count()
    val nSupp = read("supplier").count()
    val nPart = read("part").count()
    val nOrd = read("orders").count()
    val nEv = read("events").count()
    val nUsers = read("events").agg(max(col("user_id"))).head().getLong(0) + 1

    write(replicate(read("customer"), mult, Map("c_custkey" -> nCust))
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))),
      "customer")
    write(replicate(read("supplier"), mult, Map("s_suppkey" -> nSupp))
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey"))),
      "supplier")
    write(replicate(read("part"), mult, Map("p_partkey" -> nPart)), "part")
    write(replicate(read("orders"), mult,
      Map("o_orderkey" -> nOrd, "o_custkey" -> nCust)), "orders")
    write(replicate(read("lineitem"), mult,
      Map("l_orderkey" -> nOrd, "l_partkey" -> nPart, "l_suppkey" -> nSupp)),
      "lineitem")
    // events: same fixed 30-day window, mult x rows and users (driver law)
    write(replicate(read("events"), mult,
      Map("event_id" -> nEv, "user_id" -> nUsers)), "events")

    genDocuments(spark, toDir, corpusMult)
    genEmbeddings(spark, toDir, corpusMult)
  }

  // ---- the corpus law (deterministic, hash-based, no RNG: reruns identical) ----

  private val vocab = Seq("spark", "batch", "column", "row", "table", "query",
    "scan", "sort", "hash", "group", "agg", "filter", "join", "window",
    "stream", "merge", "data", "key", "value", "part", "line", "order",
    "fast", "slow", "small", "big", "vector", "index", "cache", "shuffle",
    "plan", "stage", "task", "block", "page", "file", "byte", "bit",
    "node", "edge")

  private def lcg(x0: Long): Iterator[Long] =
    Iterator.iterate(x0 * 6364136223846793005L + 1442695040888963407L)(
      x => x * 6364136223846793005L + 1442695040888963407L)

  /** murmur3 fmix64 finalizer: an LCG's LOW bits are short-period (mod-8
    * classes of consecutive values form a functional graph), so taking
    * `floorMod(raw, 40)` made consecutive tokens deterministic mod 8 — a
    * bigram graph with NO 3-cycles, which degenerated the graph-family
    * rehearsal (zero triangles at every mult). Mixing the high bits down
    * restores full bigram coverage over the vocab. */
  private def fmix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** Base text of a doc: 15-60 tokens from the vocab, seeded by id. */
  private def baseText(seed: Long): String = {
    val r = lcg(seed)
    val len = 15 + math.floorMod(r.next(), 46).toInt
    r.take(len).map(x => vocab(math.floorMod(fmix(x), vocab.length).toInt))
      .mkString(" ")
  }

  /** Every 20th doc is a near-copy of the previous doc with one token
    * mutated (the planted near-dup pairs dedup must find); every 100th is an
    * exact copy. Matches the sf0.1 corpus's ~5% near-dup density. */
  def docText(id: Long): String =
    if (id % 100 == 99) baseText(id - 1)
    else if (id % 20 == 19) {
      val toks = baseText(id - 1).split(" ")
      toks(math.floorMod(id, toks.length).toInt) = "mutated"
      toks.mkString(" ")
    } else baseText(id)

  def genDocuments(spark: SparkSession, dir: String, mult: Int): Unit = {
    import spark.implicits._
    val nDocs = 5000L * mult
    spark.range(nDocs)
      .map { id =>
        val text = docText(id)
        val lang = Seq("en", "de", "fr", "es", "zh")(
          math.floorMod(id, 5).toInt)
        (id, text, lang, s"src${math.floorMod(id, 20)}", text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def genEmbeddings(spark: SparkSession, dir: String, mult: Int): Unit = {
    import spark.implicits._
    // embeddings: 10 cluster directions + per-vector hash noise (matches the
    // driver corpus's shape: 64-dim float, 10 labels, near-isotropic within
    // cluster); every 50th vector is a near-copy of its predecessor — the
    // planted near-neighbor structure recall is measured against
    val nVecs = 2000L * mult
    val dim = 64
    spark.range(nVecs)
      .map { id0 =>
        val id: Long = id0
        val label = math.floorMod(id, 10).toInt
        val baseId: Long = if (id % 50 == 49) id - 1 else id
        val r = lcg(baseId * 31 + 7)
        val noise = r.take(dim).map(x =>
          (math.floorMod(x, 2001) - 1000) / 1000.0f).toArray
        val v = Array.tabulate(dim) { d =>
          val center = if (d % 10 == math.floorMod(baseId, 10)) 2.0f else 0.0f
          val jitter = if (id % 50 == 49 && d == 0) 0.01f else 0.0f
          center + noise(d) + jitter
        }
        (id, v, label)
      }
      .toDF("vec_id", "embedding", "label")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val fromDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val toDir = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val spark = Graft.session(shufflePartitions = 32)
    spark.sparkContext.setLogLevel("WARN")
    run(spark, fromDir, toDir, mult)
    spark.read.parquet(s"$toDir/lineitem.parquet").count() match {
      case n => println(s"GENSCALE done: $toDir lineitem=$n (mult=$mult)")
    }
    spark.stop()
  }
}
