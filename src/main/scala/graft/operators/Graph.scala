package graft.operators

import graft.QueryDef
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge tables — the family beyond connected components
  * ([[Dedup.dedupClusters]]'s label propagation): one damped PageRank
  * iteration as a pure relational plan. An N-step PageRank is this plan
  * iterated with the rank table fed back in — the driver loop stays tiny
  * (one DataFrame per step, like the label-propagation fixpoint), while every
  * step is a distributed join + aggregation.
  *
  * Scale design (100 TB of edges): one shuffle by src for out-weights, one
  * join back to edges (same key — Catalyst reuses the partitioning), one
  * shuffle by dst for the contribution sum; the node-count is a broadcast
  * scalar. No adjacency is ever collected; rank mass moves as rows.
  */
object Graph {

  /** One damped-PageRank step from the uniform distribution over a weighted
    * edge list: pr1(v) = d/N + (1-d) * Σ_{(u,v,w)} (1/N) * w / wout(u). */
  def pagerankStep(edges: DataFrame, damping: Double): DataFrame = {
    // cached: the edge table feeds nodes (twice via the union), out-weights
    // and the contribution join, and exchange reuse does not fire across
    // unmaterialized subtree aliases — uncached, a corpus-derived edge list
    // (bigramEdges) would re-run its corpus pass per consumer (measured 6
    // parquet scans of documents in this one-step plan)
    val e = edges.cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nn = nodes.agg(count(lit(1)).as("n"))
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val contrib = e.join(outw, "src")
      .select(col("dst").as("node"),
        (col("w").cast("double") / col("wout")).as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("cs"))
    nodes.join(contrib, Seq("node"), "left_outer")
      .crossJoin(broadcast(nn))
      .select(col("node"),
        Num.pround(lit(1.0 - damping) / col("n") +
          (lit(damping) * coalesce(col("cs"), lit(0.0))) / col("n"), 6)
          .as("pr"))
  }

  /** N damped-PageRank steps as ONE statically-chained declarative plan —
    * when the iteration count is fixed, no driver loop or Deferred wrapper is
    * needed: each step is a join + aggregation appended to the lineage, and
    * Catalyst's exchange reuse (plus the explicit caches on the loop-invariant
    * edge tables) keeps the invariant side computed once. Intermediate ranks
    * are rounded to 9 places ON BOTH ENGINES each step, so aggregation-order
    * float noise (~1e-16 per sum) can never compound across steps into a
    * cross-engine mismatch; the final step rounds to the reporting precision.
    * At 100 TB, checkpoint the rank table every few steps to cut lineage
    * depth — the plan shape per step is unchanged. */
  def pagerankIterate(edges: DataFrame, damping: Double,
      steps: Int): DataFrame = {
    // the r16 sparse-rank restructure computes step 1's contribution
    // unconditionally, so steps <= 0 would silently return one full step
    // instead of the uniform initial distribution (ADVICE r16)
    require(steps >= 1, s"pagerankIterate needs steps >= 1, got $steps")
    val e = edges.cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    val nn = nodes.agg(count(lit(1)).as("n"))
    // r16 (guide §2.4/§3.3): hoist the loop-invariant e ⋈ outw out of the
    // step loop — the old chain re-joined edges to out-weights and
    // re-shuffled the EDGE table by src every step. `frac` = w/wout is
    // computed once (same division the step expression performed, so the
    // per-step arithmetic pr * (w/wout) is bit-identical), cached, and each
    // step only attaches the previous step's vocab-sized rank table.
    val ew = e.join(e.groupBy(col("src")).agg(sum(col("w")).as("wout")), "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wout")).as("frac"))
      .cache()
    // r16 sparse rank propagation: a node with no in-edges has empty cs in
    // EVERY step, so its rank is exactly pround((1-d)/n + d*0.0, prec) =
    // pround((1-d)/n, prec) — representing it as an explicit row only to
    // join it back each step cost a nodes ⋈ contrib shuffle per step. Keep
    // the rank table SPARSE (dst nodes only) and fold the constant base in
    // via coalesce at the next step's join; the final assembly joins the
    // full node set once. x = pr * frac with pr = coalesce(rank, base) is
    // IEEE-identical to the dense form (d*0.0 == 0.0 and x+0.0 == x for
    // the positive ranks here), so results are unchanged — re-oracled.
    var contrib = ew.crossJoin(broadcast(nn))
      .select(col("dst").as("node"), ((lit(1.0) / col("n")) * col("frac")).as("x"))
      .groupBy(col("node")).agg(sum(col("x")).as("cs"))
    for (_ <- 2 to steps) {
      val pr = contrib.crossJoin(broadcast(nn))
        .select(col("node").as("src"),
          Num.pround(lit(1.0 - damping) / col("n") +
            lit(damping) * col("cs"), 9).as("pr"))
      contrib = ew.join(pr, Seq("src"), "left_outer")
        .crossJoin(broadcast(nn))
        .select(col("dst").as("node"),
          (coalesce(col("pr"),
            Num.pround(lit(1.0 - damping) / col("n"), 9)) * col("frac")).as("x"))
        .groupBy(col("node")).agg(sum(col("x")).as("cs"))
    }
    nodes.join(contrib, Seq("node"), "left_outer")
      .crossJoin(broadcast(nn))
      .select(col("node"),
        Num.pround(lit(1.0 - damping) / col("n") +
          lit(damping) * coalesce(col("cs"), lit(0.0)), 6).as("pr"))
  }

  private def pagerank10Oracle: String = {
    val base =
      s"""WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
                        FROM documents),
          e AS (SELECT t[i] AS src, t[i+1] AS dst, count(*) AS w
                FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
                WHERE len(t) >= 2 GROUP BY 1, 2),
          nodes AS (SELECT DISTINCT node FROM
                      (SELECT src AS node FROM e UNION SELECT dst FROM e)),
          nn AS (SELECT count(*) AS n FROM nodes),
          outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY 1),
          pr0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS pr
                  FROM nodes CROSS JOIN nn)"""
    val steps = (1 to 10).map { k =>
      val prec = if (k == 10) 6 else 9
      s""",
          c$k AS (SELECT e.dst AS node,
                         sum(p.pr * (CAST(e.w AS DOUBLE) / o.wout)) AS cs
                  FROM e JOIN outw o ON e.src = o.src
                  JOIN pr${k - 1} p ON p.node = e.src
                  GROUP BY 1),
          pr$k AS (SELECT d.node,
                          ${Num.sql("0.15 / nn.n + 0.85 * coalesce(s.cs, 0)", prec)} AS pr
                   FROM nodes d CROSS JOIN nn
                   LEFT JOIN c$k s ON s.node = d.node)"""
    }.mkString
    base + steps + "\n          SELECT node, pr FROM pr10"
  }

  val pagerank10Q = QueryDef(
    "token_pagerank_10",
    "10 chained PageRank steps in one static plan (near-converged ranks)",
    Some(pagerank10Oracle),
    (s, dir) => pagerankIterate(bigramEdges(s, dir), 0.85, 10))

  private def bigramEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("text")).as[String]
      .flatMap { t =>
        val a = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        if (a.length < 2) Iterator.empty
        else a.iterator.zip(a.iterator.drop(1))
      }.toDF("src", "dst")
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  /** The corpus bigram graph (tokens as nodes, adjacency counts as weights)
    * ranked by one PageRank step — "which tokens attract the most transition
    * mass", the graph view of the [[Warehouse.markov]] transition matrix. */
  val pagerankQ = QueryDef(
    "token_pagerank_step",
    "one damped PageRank step over the corpus bigram transition graph",
    Some(s"""WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
                           FROM documents),
             e AS (SELECT t[i] AS src, t[i+1] AS dst, count(*) AS w
                   FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
                   WHERE len(t) >= 2 GROUP BY 1, 2),
             nodes AS (SELECT DISTINCT node FROM
                         (SELECT src AS node FROM e UNION SELECT dst FROM e)),
             nn AS (SELECT count(*) AS n FROM nodes),
             outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY 1),
             contrib AS (SELECT e.dst AS node,
                                sum(CAST(e.w AS DOUBLE) / o.wout) AS cs
                         FROM e JOIN outw o ON e.src = o.src GROUP BY 1)
             SELECT d.node,
                    ${Num.sql("0.15 / nn.n + (0.85 * coalesce(s.cs, 0)) / nn.n", 6)} AS pr
             FROM nodes d CROSS JOIN nn
             LEFT JOIN contrib s ON s.node = d.node"""),
    (s, dir) => pagerankStep(bigramEdges(s, dir), 0.85))

  /** Triangle enumeration over the undirected token co-occurrence graph —
    * the classic distributed graph kernel (clustering-coefficient
    * numerator). Node-ORDERED edges (a < b) make each triangle appear
    * exactly once as (a < b < c) and bound the join work by per-node
    * out-degree in the ordering (the standard Schank-Wagner trick: every
    * node's work is its higher-id neighborhood squared, not its full
    * degree²; orient by degree instead of id at scale for power-law
    * graphs). Two equi-joins, no enumeration of non-edges. */
  val trianglesQ = QueryDef(
    "graph_triangles",
    "all triangles of the undirected token bigram graph, node-ordered (a<b<c)",
    Some(s"""WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
                           FROM documents),
             e0 AS (SELECT t[i] AS src, t[i+1] AS dst
                    FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
                    WHERE len(t) >= 2),
             u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                   FROM e0 WHERE src <> dst)
             SELECT ab.a, ab.b, ac.b AS c
             FROM u ab JOIN u ac ON ab.a = ac.a AND ab.b < ac.b
             JOIN u bc ON bc.a = ab.b AND bc.b = ac.b"""),
    (s, dir) => {
      val e = bigramEdges(s, dir)
      val u = e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
      u.as("ab").join(u.as("ac"),
          col("ab.a") === col("ac.a") && col("ab.b") < col("ac.b"))
        .join(u.as("bc"),
          col("bc.a") === col("ab.b") && col("bc.b") === col("ac.b"))
        .select(col("ab.a").as("a"), col("ab.b").as("b"), col("ac.b").as("c"))
    })

  /** The undirected weighted token graph: (a < b, summed bigram count).
    * Vocabulary-sized (|V|² bound, |V| ~ tokens), NOT corpus-sized — the
    * corpus-scale pass is the bigram count inside [[bigramEdges]]. */
  private[graft] def undirectedEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    bigramEdges(s, dir).filter(col("src") =!= col("dst"))
      .groupBy(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .agg(sum(col("w")).as("w"))

  private val ccSql: String = {
    raw"""WITH RECURSIVE toks AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS t
                            FROM documents),
          e0 AS (SELECT t[i] AS src, t[i+1] AS dst, count(*) AS w
                 FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
                 WHERE len(t) >= 2 GROUP BY 1, 2),
          u AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                       CAST(sum(w) AS BIGINT) AS w
                FROM e0 WHERE src <> dst GROUP BY 1, 2),
          top AS (SELECT a, b FROM (
                    SELECT a, b, row_number() OVER (ORDER BY w DESC, a, b) AS rk
                    FROM u) WHERE rk <= 25),
          de AS (SELECT a AS s, b AS d FROM top UNION ALL SELECT b, a FROM top),
          nodes AS (SELECT DISTINCT n FROM
                      (SELECT a AS n FROM top UNION SELECT b FROM top)),
          reach AS (
            SELECT n AS node, n AS r FROM nodes
            UNION
            SELECT de.d AS node, reach.r FROM reach JOIN de ON de.s = reach.node),
          comp AS (SELECT node, min(r) AS root FROM reach GROUP BY 1)
          SELECT root, count(*) AS size FROM comp GROUP BY 1"""
  }

  /** Connected components of the top-25-weight edge backbone — "which token
    * communities survive when only the strongest co-occurrences count". The
    * backbone selection is scale-free (top-K by weight, not an absolute
    * threshold, so the operator behaves identically as corpus counts grow
    * 1000x), and the component labeling reuses [[Dedup.connectedComponents]]
    * — size-gated driver union-find with the distributed label-propagation
    * fixpoint as the large-graph path. Node ids are assigned in lexicographic
    * token order, so the min-id component label IS the min token, matching
    * the oracle's recursive min-reach exactly. The unpartitioned windows here
    * rank VOCABULARY-sized tables (edges of the token graph), never corpus
    * rows; at web-vocab scale the same top-K is a TakeOrdered, not a sort. */
  val ccSizesQ = QueryDef(
    "graph_cc_sizes",
    "component sizes of the top-25-weight token co-occurrence backbone",
    Some(ccSql),
    (s, dir) => {
      // connectedComponents runs driver-side actions (cache/count, fixpoint
      // convergence checks), so an un-deferred builder would execute a graph
      // fixpoint at catalog REGISTRATION — the exact hazard dedup_clusters'
      // thunk documents. Same cure: declare the schema now, build on action.
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      graft.plans.Deferred.dataFrame(s, StructType(Seq(
        StructField("root", StringType), StructField("size", LongType))),
        () => {
          val u = undirectedEdges(s, dir)
          val top = u.withColumn("rk", row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("w").desc, col("a"), col("b"))))
            .filter(col("rk") <= 25).select(col("a"), col("b"))
          val nodes = top.select(col("a").as("node"))
            .union(top.select(col("b"))).distinct()
          val ids = nodes.withColumn("id", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("node")))
            .cast("long"))
          val pairs = top
            .join(ids.as("ia"), col("a") === col("ia.node"))
            .join(ids.as("ib"), col("b") === col("ib.node"))
            .select(col("ia.id").as("i"), col("ib.id").as("j"))
          val labels = Dedup.connectedComponents(pairs)
          labels.groupBy(col("label")).agg(count(lit(1)).as("size"))
            .join(ids, col("label") === col("id"))
            .select(col("node").as("root"), col("size"))
        })
    })

  private val kcoreSql: String = {
    // bounded unrolled peeling: every peeling round removes ALL current
    // degree-<2 nodes at once, and the deepest structure a 25-edge backbone
    // can hide is a 26-node path — ceil(26/2) = 13 rounds to empty — so 15
    // unrolled steps are provably past any fixpoint; the tail steps are
    // no-ops and both engines agree on the stable core. Each step: degree
    // over the surviving symmetrized edges, keep nodes with deg >= 2, keep
    // edges with both endpoints surviving. MATERIALIZED: each step is
    // referenced three times downstream, and DuckDB's default CTE inlining
    // would otherwise expand the chain exponentially.
    val base =
      raw"""WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS t
                          FROM documents),
          e0 AS (SELECT t[i] AS src, t[i+1] AS dst, count(*) AS w
                 FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
                 WHERE len(t) >= 2 GROUP BY 1, 2),
          u AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                       CAST(sum(w) AS BIGINT) AS w
                FROM e0 WHERE src <> dst GROUP BY 1, 2),
          g0 AS (SELECT a, b FROM (
                   SELECT a, b, row_number() OVER (ORDER BY w DESC, a, b) AS rk
                   FROM u) WHERE rk <= 25)"""
    val steps = (1 to 15).map { k =>
      s""",
          d$k AS MATERIALIZED (SELECT s, count(*) AS dg FROM (
                    SELECT a AS s FROM g${k - 1}
                    UNION ALL SELECT b FROM g${k - 1}) GROUP BY 1),
          k$k AS MATERIALIZED (SELECT s FROM d$k WHERE dg >= 2),
          g$k AS MATERIALIZED (SELECT g.a, g.b FROM g${k - 1} g
                  JOIN k$k x ON x.s = g.a JOIN k$k y ON y.s = g.b)"""
    }.mkString
    base + steps +
      raw"""
          SELECT s AS node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS s FROM g15 UNION ALL SELECT b FROM g15)
          GROUP BY 1"""
  }

  /** k-core of an undirected (a, b) edge list: the edges surviving repeated
    * removal of nodes with degree < k, reported as surviving nodes with
    * their in-core degree. Size-gated exactly like
    * [[Dedup.connectedComponents]]: an edge list under the threshold
    * collects and peels on the driver (one collect vs O(peeling depth)
    * rounds of jobs — the same size-based decision AQE makes); above it,
    * the distributed loop peels with one degree aggregation + two
    * semi-joins per round, with each round's result EAGERLY
    * `localCheckpoint`ed. The checkpoint is load-bearing, not an
    * optimization: every round references the previous round's DataFrame
    * ~4x, so an uncheckpointed loop grows the LOGICAL plan 4^rounds —
    * measured as a driver OOM merely stringifying the plan tree once the
    * sf0.1 backbone needed ~10 rounds. Truncating lineage each round keeps
    * the plan constant-size; rounds are bounded by pendant-path depth
    * (<= |nodes|/2 structurally, a handful in practice), each linear in
    * surviving edges. */
  def kcore(edges: DataFrame, k: Int,
      broadcastThreshold: Long = 100000L): DataFrame = {
    val e0 = edges.select(col("a"), col("b")).cache()
    val n0 = e0.count()
    if (n0 < broadcastThreshold) {
      val rows = e0.collect().map(r => (r.get(0), r.get(1)))
      val nodeType = e0.schema.head.dataType
      e0.unpersist()
      var es = rows.toSet
      var done = false
      while (!done) {
        val deg = es.toSeq.flatMap(t => Seq(t._1, t._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= k).keySet
        val next = es.filter(t => keep(t._1) && keep(t._2))
        done = next == es
        es = next
      }
      val outDeg = es.toSeq.flatMap(t => Seq(t._1, t._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      import scala.jdk.CollectionConverters._
      return edges.sparkSession.createDataFrame(
        outDeg.map { case (nd, d) => org.apache.spark.sql.Row(nd, d) }.asJava,
        StructType(Seq(StructField("node", nodeType),
          StructField("deg", LongType, nullable = false))))
    }
    var g = e0.localCheckpoint(true)
    e0.unpersist()
    var n = n0
    var stable = false
    while (!stable && n > 0) {
      val deg = g.select(col("a").as("s"))
        .unionByName(g.select(col("b").as("s")))
        .groupBy(col("s")).agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= k).select(col("s"))
      val g2 = g.join(keep.as("ka"), col("a") === col("ka.s"))
        .join(keep.as("kb"), col("b") === col("kb.s"))
        .select(col("a"), col("b")).localCheckpoint(true)
      val n2 = g2.count()
      stable = n2 == n
      g = g2; n = n2
    }
    g.select(col("a").as("s")).unionByName(g.select(col("b").as("s")))
      .groupBy(col("s")).agg(count(lit(1)).as("deg"))
      .select(col("s").as("node"), col("deg"))
  }

  /** 2-core of the top-25-weight backbone — the classic "peel the leaves"
    * graph kernel (nodes surviving repeated removal of degree-<2 nodes; the
    * cycle-carrying skeleton of the strongest co-occurrences). Runs
    * [[kcore]] on the backbone (<= 25 edges by construction, so the
    * size-gated driver peel applies); Deferred-wrapped because the peel
    * runs driver-side actions. The oracle unrolls 15 peeling steps
    * (provably past the fixpoint for a 25-edge backbone: the deepest
    * structure is a 26-node path needing 13 rounds) as a generated
    * MATERIALIZED-CTE chain. */
  val kcoreQ = QueryDef(
    "graph_kcore_backbone",
    "2-core of the top-25-weight backbone: surviving nodes + in-core degree",
    Some(kcoreSql),
    (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      graft.plans.Deferred.dataFrame(s, StructType(Seq(
        StructField("node", StringType), StructField("deg", LongType))),
        () => {
          val top = undirectedEdges(s, dir)
            .withColumn("rk", row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("w").desc, col("a"), col("b"))))
            .filter(col("rk") <= 25).select(col("a"), col("b"))
          kcore(top, 2)
        })
    })

  /** Neighbor-set Jaccard per edge — the classic link-prediction /
    * community-strength feature: for each edge (a,b), |N(a) ∩ N(b)| /
    * |N(a) ∪ N(b)|.
    *
    * |N(a) ∩ N(b)| for an edge is exactly the number of triangles through
    * that edge, so it is counted by DEGREE-ORIENTED wedge enumeration: every
    * edge is directed from its lower-(degree, node) endpoint to the higher,
    * wedges are enumerated only at each triangle's minimum-degree vertex,
    * and the closing edge is probed with one equi-join. Each triangle
    * surfaces exactly once and contributes a common neighbor to each of its
    * three edges. This bounds the join volume by Σ_v C(outdeg⁺(v), 2) under
    * min-degree orientation — O(m·√m) on any graph (arboricity bound) —
    * where joining the edge list straight against the symmetrized adjacency
    * would carry a Σ deg² hub term that explodes on power-law token graphs
    * (the same trick [[trianglesQ]] documents, here actually load-bearing
    * because BOTH joined sides would otherwise be adjacency-sized).
    * Arithmetic is integer counts and a single exact division. */
  val jaccardQ = QueryDef(
    "graph_jaccard_neighbors",
    "top-20 edges by neighbor-set Jaccard over the token graph",
    Some(s"""WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
                           FROM documents),
             e0 AS (SELECT t[i] AS src, t[i+1] AS dst, count(*) AS w
                    FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
                    WHERE len(t) >= 2 GROUP BY 1, 2),
             u AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
                   FROM e0 WHERE src <> dst GROUP BY 1, 2),
             de AS (SELECT a AS s, b AS d FROM u UNION ALL SELECT b, a FROM u),
             deg AS (SELECT s, count(*) AS dg FROM de GROUP BY 1),
             cm AS (SELECT e.a, e.b, count(*) AS n_common
                    FROM u e JOIN de x ON x.s = e.a
                    JOIN de y ON y.s = e.b AND y.d = x.d
                    GROUP BY 1, 2)
             SELECT a, b, n_common, jac FROM (
               SELECT c.a, c.b, c.n_common,
                      ${Num.sql("CAST(c.n_common AS DOUBLE) / (da.dg + db.dg - c.n_common)", 4)} AS jac,
                      row_number() OVER (ORDER BY
                        ${Num.sql("CAST(c.n_common AS DOUBLE) / (da.dg + db.dg - c.n_common)", 4)} DESC,
                        c.a, c.b) AS rk
               FROM cm c JOIN deg da ON da.s = c.a
               JOIN deg db ON db.s = c.b)
             WHERE rk <= 20"""),
    (s, dir) => {
      val u = undirectedEdges(s, dir).select(col("a"), col("b")).cache()
      val de = u.select(col("a").as("s"), col("b").as("d"))
        .unionByName(u.select(col("b").as("s"), col("a").as("d")))
      val deg = de.groupBy(col("s")).agg(count(lit(1)).as("dg"))
      // orient every edge low -> high in the (degree, node) total order;
      // carry the head's order key so the wedge join needs no re-join to deg
      val aLower = col("da.dg") < col("db.dg") ||
        (col("da.dg") === col("db.dg") && col("a") < col("b"))
      val dir0 = u
        .join(deg.as("da"), col("da.s") === col("a"))
        .join(deg.as("db"), col("db.s") === col("b"))
        .select(
          when(aLower, col("a")).otherwise(col("b")).as("src"),
          when(aLower, col("b")).otherwise(col("a")).as("dst"),
          when(aLower, col("db.dg")).otherwise(col("da.dg")).as("dstdg"))
        .cache()
      // wedge at the min-degree vertex, heads ordered; the closing edge is
      // oriented head1 -> head2 because head1 precedes head2 in the order
      val tri = dir0.as("e1")
        .join(dir0.as("e2"), col("e1.src") === col("e2.src") &&
          (col("e1.dstdg") < col("e2.dstdg") ||
            (col("e1.dstdg") === col("e2.dstdg") && col("e1.dst") < col("e2.dst"))))
        .join(dir0.as("e3"), col("e3.src") === col("e1.dst") &&
          col("e3.dst") === col("e2.dst"))
        .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
      // each triangle is one common neighbor for each of its three edges
      val common = tri.select(explode(array(
          struct(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b")),
          struct(least(col("x"), col("z")).as("a"),
            greatest(col("x"), col("z")).as("b")),
          struct(least(col("y"), col("z")).as("a"),
            greatest(col("y"), col("z")).as("b")))).as("e"))
        .groupBy(col("e.a").as("a"), col("e.b").as("b"))
        .agg(count(lit(1)).as("n_common"))
      val jac = common
        .join(deg.as("da"), col("da.s") === col("a"))
        .join(deg.as("db"), col("db.s") === col("b"))
        .select(col("a"), col("b"), col("n_common"),
          Num.pround(col("n_common").cast("double") /
            (col("da.dg") + col("db.dg") - col("n_common")), 4).as("jac"))
      jac.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("jac").desc, col("a"), col("b"))))
        .filter(col("rk") <= 20)
        .select(col("a"), col("b"), col("n_common"), col("jac"))
    })

  /** Degree assortativity — Pearson r of endpoint degrees over every
    * directed edge occurrence (each undirected edge counted in both
    * directions, the standard Newman formulation). All moments are integer
    * sums (exact in doubles), so r is bit-identical cross-engine.
    *
    * Degenerate graphs (found by the r10 sf1 sweep, not hypothesized): on a
    * REGULAR graph every endpoint degree is equal, both variance terms are
    * exactly 0, and Pearson r is undefined — under ANSI mode the division
    * errored instead of returning a row. At 10x corpus the 40-token
    * vocabulary bigram graph saturates toward complete (vocabulary-bound,
    * as SCALE.md's graph contract predicts), which is precisely the regular
    * case. Both engines now emit NULL r for zero variance — exact to test
    * (the moments are integer-valued doubles, so v == 0 is not a fp
    * comparison hazard). */
  val assortativityQ = QueryDef(
    "graph_degree_assortativity",
    "degree-degree Pearson correlation over token graph edge endpoints",
    Some(s"""WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
                           FROM documents),
             e0 AS (SELECT t[i] AS src, t[i+1] AS dst, count(*) AS w
                    FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
                    WHERE len(t) >= 2 GROUP BY 1, 2),
             u AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
                   FROM e0 WHERE src <> dst GROUP BY 1, 2),
             de AS (SELECT a AS s, b AS d FROM u UNION ALL SELECT b, a FROM u),
             deg AS (SELECT s, CAST(count(*) AS DOUBLE) AS dg FROM de GROUP BY 1),
             p AS (SELECT ds.dg AS x, dd.dg AS y
                   FROM de JOIN deg ds ON ds.s = de.s
                   JOIN deg dd ON dd.s = de.d),
             m AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
                          sum(y) AS sy, sum(x*x) AS sxx, sum(y*y) AS syy,
                          sum(x*y) AS sxy
                   FROM p)
             SELECT CAST(n AS BIGINT) AS n_endpoints,
                    CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0 THEN
                    ${Num.sql(
                      "(n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))",
                      4)} END AS r
             FROM m"""),
    (s, dir) => {
      // cached: the symmetrized edge list feeds the degree aggregation AND
      // the endpoint join, and each uncached read re-runs the corpus bigram
      // pass (measured 6 documents scans in this plan uncached)
      val u = undirectedEdges(s, dir).select(col("a"), col("b")).cache()
      val de = u.select(col("a").as("s"), col("b").as("d"))
        .unionByName(u.select(col("b").as("s"), col("a").as("d")))
      val deg = de.groupBy(col("s")).agg(count(lit(1)).cast("double").as("dg"))
      // alias the edge columns first so the two deg joins can't collide
      val p2 = de.select(col("s").as("de_s"), col("d").as("de_d"))
        .join(deg.as("ds"), col("ds.s") === col("de_s"))
        .join(deg.as("dd"), col("dd.s") === col("de_d"))
        .select(col("ds.dg").as("x"), col("dd.dg").as("y"))
      p2.agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("v", (col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy")))
        .select(col("n").cast("long").as("n_endpoints"),
          when(col("v") > 0,
            Num.pround((col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt(col("v")), 4)).as("r"))
    })

  /** Degree-resolved clustering spectrum C(k) — for each degree class k, the
    * average local clustering coefficient of its nodes: how much more (or
    * less) clustered hubs are than leaves, the classic hierarchical-structure
    * diagnostic read off a log-log C(k) plot. Per node, C_v = 2·T_v /
    * (deg_v·(deg_v−1)); averaged inside a fixed degree class the denominator
    * is constant, so the class average is (2·Σ T_v) / (n_k·k·(k−1)) — all
    * sums stay INTEGER and the only floating-point op is one final division
    * under the shared rounding formula. (Averaging per class is also what
    * makes a deterministic oracle possible at all: a direct mean over
    * per-node double ratios would be summation-order-dependent.)
    *
    * Cost: the triangle enumeration is [[trianglesQ]]'s two node-ordered
    * equi-joins (per-node work bounded by ordered out-neighborhood²); the
    * spectrum itself adds two linear aggregations over the vocabulary-sized
    * edge/triangle tables. The edge set is cached: the three join aliases
    * plus the degree pass would otherwise re-run the corpus bigram pass. */
  val clusteringQ = QueryDef(
    "graph_clustering_coeff",
    "per-degree-class average local clustering coefficient of the token graph",
    Some(s"""WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
                           FROM documents),
             e0 AS (SELECT t[i] AS src, t[i+1] AS dst
                    FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
                    WHERE len(t) >= 2),
             u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                   FROM e0 WHERE src <> dst),
             tri AS (SELECT ab.a, ab.b, ac.b AS c
                     FROM u ab JOIN u ac ON ab.a = ac.a AND ab.b < ac.b
                     JOIN u bc ON bc.a = ab.b AND bc.b = ac.b),
             tn AS (SELECT node, count(*) AS t FROM
                      (SELECT a AS node FROM tri UNION ALL
                       SELECT b FROM tri UNION ALL
                       SELECT c FROM tri) x GROUP BY 1),
             deg AS (SELECT node, count(*) AS deg FROM
                       (SELECT a AS node FROM u UNION ALL
                        SELECT b FROM u) y GROUP BY 1)
             SELECT d.deg, count(*) AS n_nodes,
                    CAST(sum(COALESCE(tn.t, 0)) AS BIGINT) AS triangles,
                    ${Num.sql(
                      "CAST(2 * sum(COALESCE(tn.t, 0)) AS DOUBLE) / " +
                        "(count(*) * d.deg * (d.deg - 1))", 6)} AS avg_cc
             FROM deg d LEFT JOIN tn ON tn.node = d.node
             WHERE d.deg >= 2
             GROUP BY 1"""),
    (s, dir) => {
      // cached: the triangle join reads u through three aliases and the
      // degree pass a fourth time — uncached, each re-runs the corpus
      // bigram tokenization (the multi-consumer scan audit pattern)
      val u = undirectedEdges(s, dir).select(col("a"), col("b")).cache()
      val tri = u.as("ab").join(u.as("ac"),
          col("ab.a") === col("ac.a") && col("ab.b") < col("ac.b"))
        .join(u.as("bc"),
          col("bc.a") === col("ab.b") && col("bc.b") === col("ac.b"))
        .select(col("ab.a").as("a"), col("ab.b").as("b"), col("ac.b").as("c"))
      val tn = tri.select(explode(array(col("a"), col("b"), col("c")))
          .as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("t"))
      val deg = u.select(col("a").as("node"))
        .unionAll(u.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      deg.filter(col("deg") >= 2)
        .join(tn, Seq("node"), "left_outer")
        .groupBy(col("deg"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(coalesce(col("t"), lit(0L))).as("triangles"))
        .select(col("deg"), col("n_nodes"), col("triangles"),
          Num.pround((lit(2L) * col("triangles")).cast("double") /
            (col("n_nodes") * col("deg") * (col("deg") - 1)), 6).as("avg_cc"))
    })

  val defs: Seq[QueryDef] = Seq(pagerankQ, pagerank10Q, trianglesQ,
    ccSizesQ, kcoreQ, jaccardQ, assortativityQ, clusteringQ)
}
