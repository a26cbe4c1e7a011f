package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, DerivedTable}
import graft.queries.SimGraph

/** Round-11 consolidation items: the shared SimGraph materialization
  * amortizes the gram pass across the graph pack (build exactly once),
  * and the new precondition guards actually fire.
  */
class Round11Spec extends SparkTestBase {

  test("SimGraph pairs build exactly once per dataset; consumers scan it") {
    val before = DerivedTable.builds.get()
    val p1 = SimGraph.pairs(spark, sf).count()
    val afterFirst = DerivedTable.builds.get()
    // second consumer — and the derived views — must NOT rebuild
    val p2 = SimGraph.pairs(spark, sf).count()
    val e = SimGraph.edges(spark, sf).count()
    val dp = SimGraph.directedPairs(spark, sf).count()
    assert(afterFirst - before <= 1, "first call builds at most once")
    assert(DerivedTable.builds.get() === afterFirst,
      "subsequent consumers must reuse the materialized table")
    assert(p1 === p2)
    assert(dp === 2 * p1, "directed view is both orientations")
    assert(e <= p1 && e > 0, "thresholded edges are a non-empty subset")

    // consumers' plans read the managed table — the corpus gram pass
    // (explode over documents text) must not appear
    val plan = formattedPlan(SimGraph.edges(spark, sf))
    assert(plan.contains("g_derived_sim_pairs"),
      s"edge scan should hit the derived table, got:\n$plan")
    assert(!plan.toLowerCase.contains("explode"),
      "no gram explode in an amortized consumer plan")
  }

  test("graph-pack queries share one gram pass per dataset") {
    // force the artifact for sf once, then run two full graph queries;
    // the build counter must not move
    SimGraph.pairs(spark, sf).count()
    val builds = DerivedTable.builds.get()
    val tri = graft.queries.Graph.defs
      .find(_.name == "q162_doc_triangles").get.fn(spark, sf).count()
    val nn = graft.queries.Graph.defs
      .find(_.name == "q187_mutual_nn").get.fn(spark, sf).count()
    assert(tri >= 0 && nn >= 0)
    assert(DerivedTable.builds.get() === builds,
      "graph queries must consume the shared artifact, not rebuild it")
  }

  test("SimGraph artifacts for two datasets coexist (no cross-contamination)") {
    val pA = SimGraph.pairs(spark, SharedSpark.Sf0001)
    val pB = SimGraph.pairs(spark, SharedSpark.Sf001)
    // different dataset dirs hash to different managed tables; the
    // counts differ because the corpora differ — identical counts
    // would be a (vanishingly unlikely) red flag, the real assert is
    // that both are independently re-readable after the other's build
    val (a1, b1) = (pA.count(), pB.count())
    val (a2, b2) = (SimGraph.pairs(spark, SharedSpark.Sf0001).count(),
      SimGraph.pairs(spark, SharedSpark.Sf001).count())
    assert(a1 === a2 && b1 === b2)
    assert(a1 > 0 && b1 > 0)
  }

  test("SimGraph materialized artifact == fresh recomputation, value-exact") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val cached = rows(SimGraph.pairs(spark, sf))
    val fresh = rows(SimGraph.buildPairs(spark, sf))
    assert(cached === fresh,
      "the materialized table must be value-identical to a fresh build")
  }

  test("DerivedTable reuses a committed on-disk artifact; never deletes it") {
    // a sibling session whose catalog never saw the table must not
    // delete a live artifact — simulate by dropping the (external)
    // catalog entry: the data stays, and the next getOrBuild must
    // RE-REGISTER the committed location instead of rebuilding
    val n1 = SimGraph.pairs(spark, sf).count()
    // drop EVERY sim-pairs catalog entry (there may be one per SF dir
    // from earlier tests) — external tables, so the data stays put
    spark.catalog.listTables()
      .filter(col("name").startsWith("g_derived_sim_pairs_"))
      .collect().map(_.name)
      .foreach(t => spark.sql(s"DROP TABLE `$t`"))
    val before = DerivedTable.builds.get()
    val n2 = SimGraph.pairs(spark, sf).count()
    assert(n2 === n1)
    assert(DerivedTable.builds.get() === before,
      "a committed artifact must be re-registered, not rebuilt")
  }

  test("q301 regex segmentation == windowed run-id formulation on edges") {
    // the round-11 rewrite replaced the doc-window + (doc, run)
    // join-back with one regex pass; prove parity on inputs the
    // corpus may not exercise: leading/trailing/consecutive
    // stopwords, all-stopword docs, single-token docs, repeated
    // phrases, mixed whitespace
    import spark.implicits._
    val stops = Seq("the", "of", "and", "a", "to", "in", "is",
      "it", "for", "on")
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the the of and"),                 // all stopwords
      (3L, "wolf"),                           // single token
      (4L, "a b c a b c a b c"),              // repeated phrase ('a' stops)
      (5L, "  lead  the   trail  "),          // ragged whitespace
      (6L, "x the of y"),                     // consecutive stopwords
      (7L, "cat sat cat sat cat sat"),        // no stopwords at all
      (8L, "alpha | beta the | of"),          // '|' tokens in the text —
        // pins the round-11 fix: a printable phrase delimiter would
        // split at the document's own pipes and diverge
      (9L, ""),                               // empty document —
      (10L, "   \t  ")                        // whitespace-only doc —
        // both pin the round-12 semantics: NO tokens emitted (a naive
        // \s+ split of "" synthesizes a single "" token; production
        // and the q301 oracle both drop it)
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("round11_q301_docs")

    // reference formulation (the pre-rewrite shape, freq floor removed
    // so tiny fixtures survive)
    val stopSet = stops.map(w => s"'$w'").mkString("(", ", ", ")")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val toksPos = docs
      .select(col("doc_id"), posexplode(split(trim(lower(col("text"))), "\\s+")))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .withColumn("stop", expr(s"CASE WHEN tok IN $stopSet THEN 1 ELSE 0 END"))
      .withColumn("run", sum(col("stop")).over(w))
      .filter(col("stop") === 0)
      // the pinned empty-doc semantics: the "" token a \s+ split of
      // empty text synthesizes is not a keyword (matches the tok <> ''
      // filter in q301's oracle SQL)
      .filter(col("tok") =!= "")
    val phrases = toksPos.groupBy("doc_id", "run").agg(count(lit(1)).as("plen"))
    val ref = toksPos.join(phrases, Seq("doc_id", "run"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    // rewrite formulation: the PRODUCTION kernel itself (shared
    // helper — the test can't drift from what q301 actually runs)
    val got = graft.queries.TextAnalysis.rakeTokPlen(docs, stops)
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum(col("plen").cast("long")).as("degree"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    assert(got === ref)
  }

  test("q233 factored power steps == explicit Gram build (integer-exact)") {
    // the rewrite computes x2/x3 without materializing S; prove
    // (Σqqᵀ)·x = Σ q·⟨q,x⟩ holds row-for-row on a fixture with
    // negative values and repeated vectors
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(3L, -2L, 7L)),
      (2L, Seq(0L, 5L, -1L)),
      (3L, Seq(3L, -2L, 7L)),   // duplicate of vec 1
      (4L, Seq(-4L, -4L, 4L))
    ).toDF("vec_id", "q")
    // explicit S
    val ex = vecs.select(col("vec_id"), posexplode(col("q")).as(Seq("i", "qi")))
    val S = ex.select(col("vec_id"), col("i").as("di"), col("qi"))
      .join(ex.select(col("vec_id"), col("i").as("dj"),
        col("qi").as("qj")), Seq("vec_id"))
      .groupBy("di", "dj").agg(sum(col("qi") * col("qj")).as("s"))
    val x2ref = S.groupBy("di").agg(sum("s").as("x2"))
      .withColumn("x2s", expr("x2 div 1024"))
    val x3ref = S.join(x2ref.select(col("di").as("dj"), col("x2s")), Seq("dj"))
      .groupBy("di").agg(sum(col("s") * col("x2s")).as("x3"))
    val ref = x2ref.join(x3ref, Seq("di"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // factored: the PRODUCTION helper itself (shared with q233 — the
    // test can't drift from what the query actually runs)
    val (x2, x3) = graft.queries.Similarity.powerSteps(vecs)
    val got = x2.join(x3, Seq("i"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === ref)
  }

  test("nearestJoin rejects payload/left column collisions up front") {
    import spark.implicits._
    val left = Seq((1L, 10L, "x")).toDF("k", "t", "val")
    val right = Seq((1L, 9L, "y")).toDF("k", "t", "val")
    // payload name collides with a left column
    val e1 = intercept[IllegalArgumentException] {
      AsOfJoin.nearestJoin(left, right, "k", "t", Seq("val"), 100L)
    }
    assert(e1.getMessage.contains("collision"))
    // left frame already carries a reserved output name
    val left2 = left.withColumn("asof_dir", lit("stale"))
    val right2 = Seq((1L, 9L, "y")).toDF("k", "t", "p")
    val e2 = intercept[IllegalArgumentException] {
      AsOfJoin.nearestJoin(left2, right2, "k", "t", Seq("p"), 100L)
    }
    assert(e2.getMessage.contains("asof"))
    // left column squatting on the window-temporary namespace
    val left3 = left.withColumn("__prior_p", lit(7L))
    val e3 = intercept[IllegalArgumentException] {
      AsOfJoin.nearestJoin(left3, right2, "k", "t", Seq("p"), 100L)
    }
    assert(e3.getMessage.contains("collision"))
    // duplicate payload names
    val e4 = intercept[IllegalArgumentException] {
      AsOfJoin.nearestJoin(left, right2, "k", "t", Seq("p", "p"), 100L)
    }
    assert(e4.getMessage.contains("collision"))
    // priorJoin shares the guard (same collision class, same altitude)
    val e5 = intercept[IllegalArgumentException] {
      AsOfJoin.priorJoin(left, right, "k", "t", Seq("val"))
    }
    assert(e5.getMessage.contains("collision"))
  }
}
