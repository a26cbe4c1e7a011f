package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.DerivedTable

/** Round-12 hardening: DerivedTable's artifact identity now folds in
  * the dataset CONTENT fingerprint and a build version (a committed
  * leftover can never be resurrected against regenerated data or newer
  * build code), and powerSteps fails loudly on ragged embeddings.
  */
class Round12Spec extends SparkTestBase {

  // deleteOnExit can't remove non-empty directories, so the parquet
  // fixture trees these tests write would leak into the system temp
  // dir every run — track them and delete recursively in afterAll
  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  private def trackedTempDir(prefix: String): java.io.File = {
    val d = Files.createTempDirectory(prefix).toFile
    tempDirs.synchronized { tempDirs += d }
    d
  }

  private def freshDatasetDir(): java.io.File = trackedTempDir("r12_derived_")

  override def afterAll(): Unit = {
    try tempDirs.foreach { d =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(d)
    } finally super.afterAll()
  }

  test("DerivedTable rebuilds when the dataset content changes at the same path") {
    import spark.implicits._
    val dir = freshDatasetDir()
    val data = s"${dir.getAbsolutePath}/vals.parquet"
    def build() = spark.read.parquet(data).agg(sum("v").as("s"))

    Seq(1L, 2L, 3L).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(data)
    val before = DerivedTable.builds.get()
    val s1 = DerivedTable
      .getOrBuild(spark, "r12_fp", dir.getAbsolutePath)(build())
      .head().getLong(0)
    assert(s1 === 6L)
    assert(DerivedTable.builds.get() === before + 1)

    // unchanged data: served from the artifact, no rebuild
    val s1b = DerivedTable
      .getOrBuild(spark, "r12_fp", dir.getAbsolutePath)(build())
      .head().getLong(0)
    assert(s1b === 6L)
    assert(DerivedTable.builds.get() === before + 1,
      "identical content must reuse the artifact")

    // regenerate the dataset AT THE SAME PATH with different content —
    // the stale-resurrection scenario: a path-only key would serve the
    // old sum; the content fingerprint must force a rebuild. The
    // fingerprint is session-memoized (datasets are immutable while a
    // real session runs), so an in-JVM fixture mutation refreshes it
    // explicitly — exactly what a between-sessions regeneration looks
    // like to a fresh JVM.
    Seq(10L, 20L, 30L, 40L).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(data)
    DerivedTable.refreshFingerprints()
    val s2 = DerivedTable
      .getOrBuild(spark, "r12_fp", dir.getAbsolutePath)(build())
      .head().getLong(0)
    assert(s2 === 100L,
      "regenerated data must be re-derived, not served stale")
    assert(DerivedTable.builds.get() === before + 2)
  }

  test("DerivedTable rebuilds when the build version is bumped") {
    import spark.implicits._
    val dir = freshDatasetDir()
    val data = s"${dir.getAbsolutePath}/vals.parquet"
    Seq(5L, 7L).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(data)

    val before = DerivedTable.builds.get()
    val v1 = DerivedTable
      .getOrBuild(spark, "r12_ver", dir.getAbsolutePath, version = 1)(
        spark.read.parquet(data).agg(sum("v").as("s")))
      .head().getLong(0)
    assert(v1 === 12L)
    // same data, NEW derivation semantics (version 2): the old on-disk
    // artifact must not be served to the new code
    val v2 = DerivedTable
      .getOrBuild(spark, "r12_ver", dir.getAbsolutePath, version = 2)(
        spark.read.parquet(data).agg((sum("v") * 2).as("s")))
      .head().getLong(0)
    assert(v2 === 24L,
      "a version bump must invalidate the old artifact")
    assert(DerivedTable.builds.get() === before + 2)
    // and version 1 still resolves to ITS artifact, untouched
    val v1b = DerivedTable
      .getOrBuild(spark, "r12_ver", dir.getAbsolutePath, version = 1)(
        spark.read.parquet(data).agg(sum("v").as("s")))
      .head().getLong(0)
    assert(v1b === 12L)
    assert(DerivedTable.builds.get() === before + 2,
      "both versions coexist; neither rebuilds")
  }

  test("DerivedTable serializes concurrent first callers of one artifact") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDatasetDir()
    val data = s"${dir.getAbsolutePath}/vals.parquet"
    Seq(1L, 2L, 3L, 4L).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(data)
    val before = DerivedTable.builds.get()
    // four parallel FIRST callers of the same artifact: the per-key
    // lock must elect exactly one builder; the rest read the
    // committed table — every result identical, builds + 1
    val sums = Await.result(
      Future.sequence((1 to 4).map(_ => Future {
        DerivedTable
          .getOrBuild(spark, "r12_conc", dir.getAbsolutePath)(
            spark.read.parquet(data).agg(sum("v").as("s")))
          .head().getLong(0)
      })), 2.minutes)
    assert(sums.forall(_ === 10L))
    assert(DerivedTable.builds.get() === before + 1,
      "exactly one concurrent caller pays the build")
  }

  test("Baskets pair artifact builds exactly once; q185/q325 consume it") {
    import graft.queries.Baskets
    // force the artifact, then re-read: no rebuild
    Baskets.pairSupports(spark, sf).count()
    val builds = DerivedTable.builds.get()
    Baskets.pairSupports(spark, sf).count()
    assert(DerivedTable.builds.get() === builds,
      "re-reads must scan the materialized table")
    // both consumer queries run off the shared artifact
    val q185 = graft.queries.Relational.defs
      .find(_.name == "q185_market_basket").get.fn(spark, sf).count()
    val q325 = graft.queries.Graph.defs
      .find(_.name == "q325_kcore").get.fn(spark, sf).count()
    assert(q185 > 0 && q325 > 0,
      "both queries return non-empty results at the test SF " +
        "(q325's 3-core has 200 members at sf0.001)")
    assert(DerivedTable.builds.get() === builds,
      "q185/q325 must consume the shared artifact, not rebuild it")
  }

  test("Baskets pair artifact == fresh recomputation, value-exact") {
    import graft.queries.Baskets
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairRows(Baskets.pairSupports(spark, sf)) ===
      pairRows(Baskets.buildPairSupports(spark, sf)),
      "pair artifact must be value-identical to a from-scratch build")
  }

  test("q185's plan scans the derived pair table — no within-order re-join") {
    import graft.queries.Baskets
    Baskets.pairSupports(spark, sf).count() // ensure materialized
    val df = graft.queries.Relational.defs
      .find(_.name == "q185_market_basket").get.fn(spark, sf)
    val plan = formattedPlan(df)
    assert(plan.contains("g_derived_basket_pairs"),
      s"q185 should scan the derived pair table, got:\n$plan")
    // the singleton-support scan of lineitem stays (measured cheaper
    // inline than a base artifact), but the within-order SELF-JOIN
    // must be gone: no remaining join may condition on l_orderkey —
    // the only joins left are the p1/p2 support lookups
    val orderKeyJoins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "l_orderkey"))
        => j
    }
    assert(orderKeyJoins.isEmpty,
      "q185 must not re-run the within-order pair join once the " +
        "artifact exists")
  }

  test("powerSteps throws loudly on a ragged embedding dimension") {
    import spark.implicits._
    // silent-corruption scenario the guard closes: a short vector
    // silently vanishes from x2's missing high indices AND from x3
    // (zip_with null-pads, aggregate() nulls out its s2) — the
    // up-front dims guard must reject the input before EITHER output
    // exists, so even an x2-only consumer cannot read corrupted sums
    val ragged = Seq(
      (1L, Seq(3L, -2L, 7L)),
      (2L, Seq(0L, 5L)), // one dim short
      (3L, Seq(1L, 1L, 1L))
    ).toDF("vec_id", "q")
    val e = intercept[IllegalArgumentException] {
      graft.queries.Similarity.powerSteps(ragged)
    }
    assert(e.getMessage.contains("ragged"),
      s"expected the ragged-dimension error, got: $e")
    spark.catalog.clearCache() // powerSteps persists its inputs

    // a NULL vector (and a null ELEMENT) must also fail loudly: both
    // would otherwise silently vanish from every sum (posexplode of
    // null emits nothing; null products null out of rs)
    val withNullVec = Seq(
      (1L, Seq(3L, -2L, 7L)),
      (2L, null.asInstanceOf[Seq[Long]])
    ).toDF("vec_id", "q")
    val eNull = intercept[IllegalArgumentException] {
      graft.queries.Similarity.powerSteps(withNullVec)
    }
    assert(eNull.getMessage.toLowerCase.contains("null"),
      s"expected the null-vector error, got: $eNull")
    spark.catalog.clearCache()
    val withNullElem = Seq(
      (1L, Seq[java.lang.Long](3L, -2L, 7L)),
      (2L, Seq[java.lang.Long](0L, null, 1L))
    ).toDF("vec_id", "q")
    val eElem = intercept[IllegalArgumentException] {
      graft.queries.Similarity.powerSteps(withNullElem)
    }
    assert(eElem.getMessage.toLowerCase.contains("null"),
      s"expected the null-element error, got: $eElem")
    spark.catalog.clearCache()

    // and the uniform case is unaffected
    val uniform = Seq(
      (1L, Seq(3L, -2L, 7L)),
      (2L, Seq(0L, 5L, -1L))
    ).toDF("vec_id", "q")
    val (x2u, x3u) = graft.queries.Similarity.powerSteps(uniform)
    assert(x2u.count() === 3 && x3u.count() === 3)
    spark.catalog.clearCache()
  }
}
