package graft

/** Driver-contract invariants. */
class CatalogSpec extends SparkSpec {

  test("catalog names are unique") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.distinct.length == names.length)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every catalog query declares a DuckDB oracle — no rows-only checks") {
    // as of round 2 the whole surface is hash-verified; a new query landing
    // without an oracle silently downgrades the driver's gate to a weak
    // rows-only check, so make that a test failure instead
    val missing = SparkEntry.catalog.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"rows-only queries: $missing")
  }

  test("the Plans headline list only names real catalog queries") {
    // a renamed/removed query would otherwise break the PLANS.md generator
    // at run time instead of in CI
    val names = SparkEntry.queries.keySet
    val badPlans = Plans.headline.filterNot(names)
    assert(badPlans.isEmpty, s"Plans.headline references unknown: $badPlans")
    assert(Plans.headline.distinct.length == Plans.headline.length)
  }

  test("QUERIES.md indexes the whole catalog (regenerate via QueriesDoc)") {
    // the generator's family partition must cover the catalog exactly —
    // a new operator module can't land without an index family
    assert(QueriesDoc.families.flatMap(_._2).map(_.name) ==
      SparkEntry.catalog.map(_.name))
    val md = java.nio.file.Files.readString(java.nio.file.Paths.get("QUERIES.md"))
    val indexed = "\\| `([a-z0-9_]+)` \\|".r
      .findAllMatchIn(md).map(_.group(1)).toSet
    val names = SparkEntry.catalog.map(_.name).toSet
    val missing = names -- indexed
    val stale = indexed -- names
    assert(missing.isEmpty, s"QUERIES.md missing: $missing — rerun QueriesDoc")
    assert(stale.isEmpty, s"QUERIES.md stale rows: $stale — rerun QueriesDoc")
  }

  test("entry() returns rows on sf0.001 (driver smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SURVEY.md §8.3 catalog-state block is complete (regenerate via " +
      "QueriesDoc)") {
    // same contract as the QUERIES.md test: the generated table between
    // the markers must index the catalog exactly — a query added without
    // regenerating the blueprint's coverage map fails CI, and a stale row
    // can't linger after a rename
    val md = java.nio.file.Files.readString(java.nio.file.Paths.get("SURVEY.md"))
    val begin = md.indexOf("<!-- generated:catalog-state:begin -->")
    val end = md.indexOf("<!-- generated:catalog-state:end -->")
    assert(begin >= 0 && end > begin, "SURVEY.md lost the catalog-state markers")
    val block = md.substring(begin, end)
    val indexed = "\\| `([a-z0-9_]+)` \\|".r
      .findAllMatchIn(block).map(_.group(1)).toSet
    val names = SparkEntry.catalog.map(_.name).toSet
    val missing = names -- indexed
    val stale = indexed -- names
    assert(missing.isEmpty, s"SURVEY §8.3 missing: $missing — rerun QueriesDoc")
    assert(stale.isEmpty, s"SURVEY §8.3 stale rows: $stale — rerun QueriesDoc")
  }

  test("every query runs non-empty on sf0.001 except known-empty anti join") {
    val emptyOk = Set(
      "anti_join_customers", // all sf0.001 customers have orders
      // the 1-in-10 id-hash stripe keeps ~5 of sf0.001's 50 docs, and a
      // PAIR survives only when both endpoints do (1/100 of the handful of
      // planted near-dups) — legitimately empty below ~sf1 (measured: 20
      // survivors of 2066 at sf1, ~200 at sf10; the stripe exists FOR the
      // big-SF sweeps, and both engines agree on the empty set at toy
      // scale, so the oracle gate still binds)
      "dedup_ngram_jaccard_oracle_baseline_stripe",
      // same argument for the r13 jaccard-family pair twins (StripeSpec
      // pins the 44-id survivor set at gate SF so 0 pairs can't hide a
      // dead predicate; keep_best_stripe is NOT here — it emits one row
      // per striped doc and must stay non-empty at every SF)
      "dedup_ngram_jaccard_stripe", "dedup_minhash_lsh_stripe")
    SparkEntry.catalog.foreach { q =>
      val n = q.run(spark, sf("sf0.001")).count()
      assert(n > 0 || emptyOk(q.name), s"${q.name} returned 0 rows")
    }
  }

  test("the session's rule set is fixed at build time: building and running " +
      "the whole catalog installs no rule or strategy") {
    val s = Graft.session("local[4]", 4)
    val opts = s.experimental.extraOptimizations
    val strategies = s.experimental.extraStrategies
    assert(opts.filter(Graft.optimizerRules.contains) == Graft.optimizerRules)
    assert(strategies.filter(Graft.strategies.contains) == Graft.strategies)
    assert(opts.indexOf(plans.RewriteRangeAggToPrefix) <
      opts.indexOf(plans.BlockRangeJoins), opts)
    SparkEntry.catalog.foreach { q =>
      q.run(s, sf("sf0.001")).count()
      assert(s.experimental.extraOptimizations == opts, s"after ${q.name}")
      assert(s.experimental.extraStrategies == strategies, s"after ${q.name}")
    }
  }
}
