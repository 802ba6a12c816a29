package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Differential property tests: each distributed operator against an
  * independent local reference implementation over randomized inputs. */
class PropertySpec extends SparkSpec {

  private def sample[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    Gen.listOfN(n, gen).pureApply(Gen.Parameters.default, Seed(seed))

  test("property: hammingPairs and hammingPairsWide both find EXACTLY the " +
      "brute-force pair set on random fingerprints with planted near pairs") {
    import spark.implicits._
    val maxDist = 3
    // random 60-bit fingerprints...
    val bases = sample(Gen.chooseNum(0L, (1L << 60) - 1), 120, 77L).distinct
    // ...plus planted near pairs: flip 0..maxDist random bit positions
    val flips = sample(for {
      base <- Gen.chooseNum(0, bases.length - 1)
      k <- Gen.chooseNum(0, maxDist)
      bits <- Gen.listOfN(k, Gen.chooseNum(0, 59))
    } yield (base, bits), 60, 99L)
    val planted = flips.map { case (bi, bits) =>
      bits.foldLeft(bases(bi))((f, b) => f ^ (1L << b))
    }
    val all = (bases ++ planted).distinct.zipWithIndex
      .map { case (f, i) => (i.toLong, f) }
    val brute = (for {
      (i, fa) <- all; (j, fb) <- all if i < j
      d = java.lang.Long.bitCount(fa ^ fb) if d <= maxDist
    } yield (i, j, d)).toSet
    assert(brute.nonEmpty) // the planted pairs actually materialized
    val fp = all.toDF("doc_id", "simhash").cache()
    try {
      def run(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // pigeonhole recall is STRUCTURAL: both geometries must equal brute
      // force exactly — no probabilistic slack
      assert(run(Dedup.hammingPairs(fp, maxDist)) == brute)
      assert(run(Dedup.hammingPairsWide(fp, maxDist)) == brute)
    } finally fp.unpersist()
  }

  test("property: encode->decode round-trips valid positions to wire precision") {
    import graft.ais.{AisDecoder, Nmea, NmeaEncoder}
    val gen = for {
      mmsi <- Gen.chooseNum(100000000L, 999999999L)
      status <- Gen.chooseNum(0, 15)
      speed <- Gen.chooseNum(0, 1022).map(_ / 10.0) // wire precision 0.1 kn
      lon <- Gen.chooseNum(-179999999, 179999999).map(_ / 1e6)
      lat <- Gen.chooseNum(-89999999, 89999999).map(_ / 1e6)
      heading <- Gen.chooseNum(0, 359)
      ts <- Gen.chooseNum(1500000000L, 1900000000L)
      t <- Gen.oneOf(1, 3)
    } yield (t, mmsi, status, speed, lon, lat, heading, ts)
    sample(gen, 300, 11L).foreach { case (t, mmsi, st, sp, lon, lat, hdg, ts) =>
      val line = NmeaEncoder.position(t, mmsi, st, sp, lon, lat, hdg, ts)
      val d = Nmea.assemble(Nmea.parse(line).iterator)
        .flatMap(AisDecoder.decode).toSeq.headOption
        .getOrElse(fail(s"did not decode: $line"))
      assert(d.msgType == t && d.mmsi == mmsi.toString)
      assert(d.status.contains(st) && d.heading.contains(hdg))
      assert(d.receiverTs.contains(ts))
      assert(math.abs(d.speed.get - sp) < 1e-9) // speed is exactly on-grid
      assert(math.abs(d.lon.get - lon) <= 0.5 / 600000 + 1e-12) // wire quantum
      assert(math.abs(d.lat.get - lat) <= 0.5 / 600000 + 1e-12)
    }
  }

  test("property: binned range join equals the naive inequality join") {
    import graft.operators.Advanced.rangeJoinBinned
    import spark.implicits._
    val windowUs = 1000L
    val gen = Gen.chooseNum(0L, 20000L)
    val lts = sample(gen, 150, 21L).distinct
    val rts = sample(gen, 150, 22L).distinct
    val left = lts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("event_id", "ts_us")
    val right = rts.zipWithIndex.map { case (t, i) => (i.toLong + 10000, t) }
      .toDF("s_id", "s_ts_us")
    val binned = rangeJoinBinned(left, right, "ts_us", "s_ts_us", windowUs)
      .select(col("event_id"), col("s_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = (for {
      (lt, li) <- lts.zipWithIndex
      (rt, ri) <- rts.zipWithIndex
      if rt >= lt - windowUs && rt <= lt
    } yield (li.toLong, ri.toLong + 10000)).toSet
    assert(binned == naive,
      s"missing=${(naive -- binned).take(5)} extra=${(binned -- naive).take(5)}")
  }

  test("property: connectedComponents equals local union-find on random graphs") {
    import spark.implicits._
    for (seed <- Seq(31L, 32L, 33L)) {
      val edgeGen = for {
        a <- Gen.chooseNum(0L, 60L); b <- Gen.chooseNum(0L, 60L) if a != b
      } yield (math.min(a, b), math.max(a, b))
      val edges = sample(edgeGen, 80, seed).distinct
      // local union-find reference
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      // exercise BOTH physical paths: threshold 0 forces the distributed
      // fixpoint, the default takes the driver union-find fast path
      for (threshold <- Seq(0L, 100000L)) {
        val got = Dedup.connectedComponents(edges.toDF("i", "j"), threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"seed=$seed threshold=$threshold diff=${
          (expected.toSet diff got.toSet).take(5)}")
      }
    }
  }

  test("property: TopKAgg equals local sort-take under any partitioning") {
    import graft.functions.TopKAgg
    import spark.implicits._
    val gen = for {
      key <- Gen.chooseNum(0, 5); v <- Gen.chooseNum(-1000, 1000)
    } yield (key, v / 10.0) // duplicates likely -> exercises tie behavior
    for (seed <- Seq(51L, 52L)) {
      val rows = sample(gen, 400, seed)
      val expected = rows.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2).sorted(Ordering[Double].reverse).take(5)
      }
      // 1 and 13 partitions: map-side partials must merge identically
      for (parts <- Seq(1, 13)) {
        val got = rows.toDF("k", "v").repartition(parts)
          .groupBy(col("k"))
          .agg(TopKAgg.top_k(col("v"), 5).as("top"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
        assert(got == expected, s"seed=$seed parts=$parts")
      }
    }
  }

  test("property: zvalue is a bijection on 16-bit pairs and quad-monotone") {
    import graft.functions.ZValue
    val gen = for {
      x <- Gen.chooseNum(0L, 65535L); y <- Gen.chooseNum(0L, 65535L)
    } yield (x, y)
    val pts = sample(gen, 500, 41L).distinct
    val zs = pts.map { case (x, y) => ZValue.compute(x, y) }
    // injective: distinct inputs -> distinct keys (interleave is a bijection)
    assert(zs.distinct.length == pts.length)
    pts.foreach { case (x, y) =>
      val z = ZValue.compute(x, y)
      assert(z >= 0 && z <= 0xFFFFFFFFL)
      // same 2^k x 2^k quad  <=>  same z prefix: the pruning property —
      // check k = 8 (high-byte quad)
      val quad = ((x >> 8) << 8, (y >> 8) << 8)
      val quadZ = ZValue.compute(quad._1, quad._2)
      assert((z >> 16) == (quadZ >> 16),
        s"($x,$y): z-prefix leaves its enclosing 256x256 quad")
    }
  }

  test("property: stride chunking covers every token, in bounds, full-width interior") {
    import spark.implicits._
    val W = Pipeline.chunkW; val S = Pipeline.chunkS
    val ns = sample(Gen.chooseNum(1L, 400L), 60, 42L).distinct
    val counts = ns.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("doc_id", "n")
    val got = Pipeline.chunkWithStride(counts, "doc_id", "n", W, S)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      }
    ns.zipWithIndex.foreach { case (n, i) =>
      val chunks = got(i.toLong)
      // invariants independent of the chunk-count formula:
      assert(chunks.head._1 == 0 && chunks.last._2 == n, s"n=$n $chunks")
      chunks.foreach { case (a, b) =>
        assert(a < b && b <= n && b - a <= W, s"n=$n [$a,$b)") }
      // no token falls between consecutive chunks
      chunks.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(s2 <= e1, s"n=$n gap before $s2")
        case _ =>
      }
      // every interior chunk is full width (only the last may be short)
      chunks.dropRight(1).foreach { case (a, b) =>
        assert(b - a == W, s"n=$n interior [$a,$b) not full") }
    }
  }

  test("property: radius-join blocking equals brute-force haversine on " +
    "random ports/positions (poleward bulge + antimeridian included)") {
    import spark.implicits._
    val r = 800.0
    // ports within the valid band (|lat| + r/111 < 90); positions anywhere,
    // lons spanning the antimeridian
    val ports = sample(for {
      lat <- Gen.chooseNum(-70.0, 70.0); lon <- Gen.chooseNum(-180.0, 180.0)
    } yield (lat, lon), 30, 7L).zipWithIndex
      .map { case ((la, lo), i) => (i.toLong, la, lo) }
    val positions = sample(for {
      lat <- Gen.chooseNum(-89.9, 89.9); lon <- Gen.chooseNum(-180.0, 179.999)
    } yield (lat, lon), 2000, 8L).zipWithIndex
      .map { case ((la, lo), i) => (i.toLong, la, lo) }
    val portsDf = ports.toDF("port_id", "plat", "plon")
    val posDf = positions.toDF("pid", "lat", "lon")
    val blocked = Geo.withinRadius(posDf, portsDf, r)
      .select(col("port_id"), col("pid")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(blocked.length == blocked.distinct.length, "pair emitted twice")
    // local brute force with the same rounded threshold
    def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val dlat = math.toRadians(lat2 - lat1) / 2
      val dlon = math.toRadians(lon2 - lon1) / 2
      val a = math.sin(dlat) * math.sin(dlat) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.sin(dlon) * math.sin(dlon)
      2 * 6371.0088 * math.asin(math.min(math.sqrt(a), 1.0))
    }
    val brute = for {
      (pid, la, lo) <- positions; (qid, pa, po) <- ports
      if math.floor(hav(pa, po, la, lo) * 1e4 + 0.5) / 1e4 <= r
    } yield (qid, pid)
    assert(blocked.toSet == brute.toSet,
      s"blocked=${blocked.length} brute=${brute.length} " +
        s"missing=${(brute.toSet -- blocked.toSet).take(5)}")
    assert(brute.nonEmpty)
  }

  test("property: withinRadius equals brute-force haversine with polar " +
    "ports (|lat| >= 80, both poles) at r = 800 km") {
    import spark.implicits._
    val r = 800.0
    // disks that reach over a pole: the cover must widen to every longitude
    val ports = (Seq((90.0, 0.0), (-90.0, 0.0), (85.0, 10.0), (-84.0, -170.0)) ++
      sample(for {
        lat <- Gen.oneOf(Gen.chooseNum(80.0, 89.99), Gen.chooseNum(-89.99, -80.0))
        lon <- Gen.chooseNum(-180.0, 179.999)
      } yield (lat, lon), 8, 17L)).zipWithIndex
      .map { case ((la, lo), i) => (i.toLong, la, lo) }
    val positions = (Seq((90.0, 45.0), (-90.0, -45.0)) ++ sample(for {
      lat <- Gen.oneOf(Gen.chooseNum(70.0, 89.99), Gen.chooseNum(-89.99, -70.0))
      lon <- Gen.chooseNum(-180.0, 179.999)
    } yield (lat, lon), 1500, 18L)).zipWithIndex
      .map { case ((la, lo), i) => (i.toLong, la, lo) }
    val blocked = Geo.withinRadius(positions.toDF("pid", "lat", "lon"),
        ports.toDF("port_id", "plat", "plon"), r)
      .select(col("port_id"), col("pid")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(blocked.length == blocked.distinct.length, "pair emitted twice")
    def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val dlat = math.toRadians(lat2 - lat1) / 2
      val dlon = math.toRadians(lon2 - lon1) / 2
      val a = math.sin(dlat) * math.sin(dlat) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.sin(dlon) * math.sin(dlon)
      2 * Geo.EarthR * math.asin(math.min(math.sqrt(a), 1.0))
    }
    val brute = for {
      (pid, la, lo) <- positions; (qid, pa, po) <- ports
      if math.floor(hav(pa, po, la, lo) * 1e4 + 0.5) / 1e4 <= r
    } yield (qid, pid)
    assert(brute.map(_._1).toSet == ports.map(_._1).toSet,
      "every polar port has positions within r")
    assert(blocked.toSet == brute.toSet,
      s"blocked=${blocked.length} brute=${brute.length} " +
        s"missing=${(brute.toSet -- blocked.toSet).take(5)}")
  }

  test("property: BlockRangeJoins rewrite equals the naive plan on random data") {
    import org.scalacheck.Gen
    import spark.implicits._
    // timestamps straddling zero, several window widths, duplicates allowed
    val gen = Gen.chooseNum(-5000L, 5000L)
    for ((window, seed) <- Seq((700L, 31L), (1000L, 32L), (3L, 33L))) {
      val ts = sample(gen, 120, seed)
      ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t").createOrReplaceTempView("prop_rng")
      val sql =
        s"""SELECT a.id, b.id FROM prop_rng a JOIN prop_rng b
            ON b.t >= a.t - $window AND b.t <= a.t"""
      val df = spark.sql(sql)
      assert(df.queryExecution.executedPlan.toString.contains("__graft_rbin"),
        s"window $window did not rewrite")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val vals = ts.zipWithIndex
      val want = (for {
        (ta, ia) <- vals; (tb, ib) <- vals
        if tb >= ta - window && tb <= ta
      } yield (ia.toLong, ib.toLong)).toSet
      assert(got == want, s"window $window: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("property: sweep-based skyline equals brute-force dominance on random points") {
    import org.scalacheck.Gen
    import spark.implicits._
    val gen = for {
      price <- Gen.chooseNum(1, 500).map(_ / 10.0)
      sz <- Gen.chooseNum(1L, 40L)
    } yield (price, sz)
    val pts = sample(gen, 400, 41L)
    def sweep(it: Iterator[(Double, Long, Long)]) = {
      var best = Long.MinValue
      it.filter { case (_, sz, _) => if (sz > best) { best = sz; true } else false }
    }
    val grouped = pts.toDF("price", "sz")
      .groupBy(col("price"), col("sz")).agg(count(lit(1)).as("n"))
    val got = grouped.repartition(7)
      .sortWithinPartitions(col("price").asc, col("sz").desc)
      .as[(Double, Long, Long)].mapPartitions(sweep)
      .coalesce(1).sortWithinPartitions(col("_1").asc, col("_2").desc)
      .mapPartitions(sweep)
      .collect().map { case (p, s, _) => (p, s) }.toSet
    val distinct = pts.distinct
    val want = distinct.filter { case (p, s) =>
      !distinct.exists { case (q, t) =>
        q <= p && t >= s && (q < p || t > s)
      }
    }.toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("property: paragraphDedup equals a local reference on random " +
      "corpora with planted cross-doc duplicate paragraphs") {
    import spark.implicits._
    val words = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val paras: Seq[String] = (0 until 12).map { i =>
      sample(words, 16, 1000L + i).mkString(" ")
    }
    // each doc = 1..4 paragraphs drawn (with repetition ACROSS docs) from
    // the shared pool -> guaranteed cross-doc duplicates
    val docs: Seq[(Long, String)] = (0 until 25).map { d =>
      val k = 1 + (d * 7) % 4
      val picks = sample(Gen.chooseNum(0, paras.length - 1), k, 2000L + d)
      d.toLong -> picks.map(paras).mkString(" ")
    }
    val got = Dedup.paragraphDedup(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // reference: global first-writer-wins, sequential over (doc_id, idx)
    val seen = scala.collection.mutable.Set.empty[String]
    val want = docs.map { case (id, t) =>
      val chunks = t.trim.split("\\s+").grouped(16).map(_.mkString(" ")).toSeq
      val kept = chunks.filter(c => seen.add(c))
      id -> ((chunks.length.toLong, kept.length.toLong, kept.mkString(" ")))
    }.toMap
    assert(got == want)
    assert(want.values.exists(_._2 == 0L) ||
      want.values.map(_._2).sum < want.values.map(_._1).sum) // dups happened
  }

  test("property: interleave_sources is a permutation in round-robin order") {
    val got = Curation.interleaveQ.run(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = got.length
    // mix_pos is a bijection onto 1..N
    assert(got.map(_._3).sorted.toSeq == (1L to n).toSeq)
    // within a source, mix order follows doc order
    got.groupBy(_._2).values.foreach { rows =>
      val byDoc = rows.sortBy(_._1).map(_._3)
      assert(byDoc.sorted.toSeq == byDoc.toSeq, "source order broken")
    }
    // round-robin: every source's r-th doc precedes every source's (r+1)-th
    val roundOf = got.groupBy(_._2).values.flatMap { rows =>
      rows.sortBy(_._1).zipWithIndex.map { case (t, i) => t._3 -> i }
    }.toMap
    val maxPosPerRound = roundOf.groupBy(_._2).map { case (r, m) => r -> m.keys.max }
    maxPosPerRound.toSeq.sortBy(_._1).sliding(2).foreach {
      case Seq((_, hi1), (r2, _)) =>
        val lo2 = roundOf.filter(_._2 == r2).keys.min
        assert(hi1 < lo2, s"round $r2 starts before prior round ends")
      case _ =>
    }
  }

  test("property: distributed winnowing equals the textbook sequential " +
      "algorithm on random corpora (small vocab forces hash ties)") {
    import spark.implicits._
    def md5hex8(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString.take(8)
    }
    val w = TextAnalysis.WinnowW
    val k = TextAnalysis.WinnowK
    // small vocabulary => repeated shingles => equal hashes in one window,
    // exercising the rightmost-tie rule
    val vocab = Vector("a", "b", "c", "dd")
    val docs = sample(for {
      len <- Gen.chooseNum(1, 40)
      toks <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield toks, 200, 4242L).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val want = docs.flatMap { case (id, text) =>
      val t = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      val m = t.length - k + 1
      if (m < w) Iterator.empty
      else {
        val h = (0 until m).map(i => md5hex8(t.slice(i, i + k).mkString(" ")))
        (0 to m - w).iterator.flatMap { i =>
          val win = (i until i + w)
          val mn = win.map(h).min
          val p = win.filter(j => h(j) == mn).max // rightmost minimum
          Iterator.single((id, (p + 1).toLong, h(p)))
        }.toSet
      }
    }.toSet
    val got = TextAnalysis.winnowingFingerprints(
      docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("property: weighted bm25 equals an independent local reference " +
      "bit-for-bit on random corpora (unweighted AND fractional weights)") {
    import spark.implicits._
    // driver-side BM25 replaying the exact engine arithmetic: per-term
    // (w * idf) * saturation in the given order, zeros for absent terms,
    // same IEEE association and final rounding
    def local(docs: Seq[(Long, String)], tw: Seq[(String, Double)],
        k: Int): Seq[(Long, Double)] = {
      val toks = docs.map { case (i, t) =>
        i -> t.trim.toLowerCase.split("\\s+").toSeq }
      val n = toks.length.toDouble
      val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
      val dfm = tw.map(_._1).map(t =>
        t -> toks.count(_._2.contains(t)).toDouble).toMap
      toks.flatMap { case (id, tk) =>
        val dl = tk.length.toDouble
        var any = false
        val s = tw.foldLeft(0.0) { case (acc, (t, w)) =>
          val tf = tk.count(_ == t).toDouble
          if (tf == 0) acc + 0.0
          else {
            any = true
            val df = dfm(t)
            acc + w * ((n - df + 0.5) / (df + 0.5)) *
              ((tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + (0.75 * dl) / avgdl)))
          }
        }
        if (!any) None else Some(id -> (math.floor(s * 1e4 + 0.5) / 1e4))
      }.sortBy { case (id, sc) => (-sc, id) }.take(k)
    }
    val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl")
    val docGen = Gen.chooseNum(2, 12)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    Seq(11L, 22L, 33L).foreach { seed =>
      val docs = sample(docGen, 25, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val plain = Retrieval.bm25TopK(df, "doc_id", "text",
        Seq("ab", "ef", "kl"), 15)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(plain == local(docs, Seq("ab", "ef", "kl").map(_ -> 1.0), 15))
      val tw = Seq("ab" -> 1.0, "ef" -> 0.5, "kl" -> 0.25)
      val weighted = Retrieval.bm25TopKWeighted(df, "doc_id", "text", tw, 15)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(weighted == local(docs, tw, 15))
      assert(plain.nonEmpty && weighted.nonEmpty)
    }
    // the duplicate-term guard rejects rather than double-counting
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopKWeighted(Seq((1L, "ab")).toDF("doc_id", "text"),
        "doc_id", "text", Seq("ab" -> 1.0, "ab" -> 0.5), 5)
    }
  }
}
