package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.queries.Dedup
import DedupSpec._

/** Behavior of the dedup operators on a planted fixture: exact copies,
  * near-duplicates (one word changed), and unrelated docs.
  */
class DedupSpec extends SparkTestBase {

  private lazy val base =
    "the quick brown fox jumps over the lazy dog near the river bank " +
      "while birds sing in the tall green trees above the quiet water"

  private lazy val fixture = {
    import spark.implicits._
    Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src1", base.length.toLong), // exact copy of 0
      (2L, base.replace("quick", "rapid"), "en", "src2", base.length.toLong), // near-dup of 0
      (3L, "completely different text about spark catalyst optimizer rules " +
        "and whole stage code generation in distributed query engines today",
        "en", "src3", 120L),
      (4L, "short doc", "en", "src4", 9L) // < 3 tokens after shingling edge
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("exact dedup groups identical canonical forms") {
    val groups = fixture
      .groupBy(md5(normText(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("keep"), count(lit(1)).as("n"))
      .collect()
    val dupGroup = groups.find(_.getLong(2) == 2)
    assert(dupGroup.isDefined, "docs 0 and 1 should share a fingerprint")
    assert(dupGroup.get.getLong(1) === 0L)
  }

  test("minhash-LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup
      .lshCandidates(fixture)
      .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= Dedup.JaccardThreshold)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((0L, 1L)), s"missed the exact pair: $pairs")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)),
      s"missed the near-dup pair: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"false positive on unrelated doc: $pairs")
  }

  test("minhash signature is deterministic and k-long") {
    val sigs = fixture
      .filter(col("doc_id") === 0)
      .select(minhashSignature(wordShingles(col("text"), 3), Dedup.NumHashes).as("s"))
      .collect()(0).getSeq[Long](0)
    assert(sigs.length === Dedup.NumHashes)
    val again = fixture
      .filter(col("doc_id") === 0)
      .select(minhashSignature(wordShingles(col("text"), 3), Dedup.NumHashes).as("s"))
      .collect()(0).getSeq[Long](0)
    assert(sigs === again)
  }

  test("simhash: near-dups are close in Hamming distance, unrelated far") {
    val fps = fixture
      .select(col("doc_id"), simhash64(tokens(normText(col("text")))).as("h"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(0L), fps(1L)) === 0, "identical docs must hash equal")
    assert(ham(fps(0L), fps(2L)) <= 12,
      s"near-dup too far: ${ham(fps(0L), fps(2L))}")
    assert(ham(fps(0L), fps(3L)) >= 16,
      s"unrelated too close: ${ham(fps(0L), fps(3L))}")
  }

  test("resolveClusters propagates the min id across chains") {
    import spark.implicits._
    // components: {1,2,3,7} via chain 1-2, 2-3, 3-7; {10,11}; {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("distributed min-label fixpoint agrees with local union-find") {
    import spark.implicits._
    // localLimit=0 forces the >cutoff distributed path on a graph
    // whose diameter (a 40-node chain) needs several fixpoint rounds,
    // plus a star and isolated pairs — the shapes that distinguish a
    // correct propagation from a one-hop approximation
    val chain = (0L until 39L).map(i => (100L + i, 101L + i))
    val star = Seq((500L, 501L), (500L, 502L), (500L, 503L))
    val pairs = (chain ++ star ++ Seq((900L, 901L)))
      .toDF("doc_a", "doc_b")
    val local = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.resolveClusters(pairs, localLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === local, "both paths must label identically")
    // and the labels are the true component minima
    (100L to 139L).foreach(n => assert(dist(n) === 100L))
    Seq(500L, 501L, 502L, 503L).foreach(n => assert(dist(n) === 500L))
    assert(dist(900L) === 900L && dist(901L) === 900L)
  }

  test("single-pass hash expressions equal their HOF reference forms") {
    val rows = fixture
      .filter(size(wordShingles(col("text"), 3)) > 0)
      .select(
        minhashSignature(wordShingles(col("text"), 3), 64).as("fast"),
        minhashSignatureHof(wordShingles(col("text"), 3), 64).as("ref"),
        simhash64(tokens(normText(col("text")))).as("sfast"),
        simhash64Hof(tokens(normText(col("text")))).as("sref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1),
        "minhash expression diverged from xxhash64 HOF semantics")
      assert(r.getLong(2) === r.getLong(3),
        "simhash expression diverged from xxhash64 HOF semantics")
    }
    val shingleRows = fixture.select(
      wordShingles(col("text"), 3).as("fast"),
      wordShinglesHof(col("text"), 3).as("ref")).collect()
    shingleRows.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1),
        "shingle expression diverged from the HOF form")
    }
  }

  test("prefix-filtered Jaccard pairs equal the brute-force block join") {
    import spark.implicits._
    // a fixture where the prefix filter has real work to do: shared
    // common words across all docs, rare words distinguishing them,
    // two planted ≥0.95 pairs (exact copy + one-token-in-21 change)
    val common = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (0L, s"$common phi", "en"),
      (1L, s"$common phi", "en"), // exact copy of 0
      (2L, s"$common chi", "en"), // 20/22 union overlap with 0 — below 0.95
      (3L, s"$common psi omega", "en"),
      (4L, common, "fr"), // other lang block: never paired with 0-3
      (5L, s"$common phi", "fr"), // J(4,5)=20/21≈0.952: an fr pair
      (6L, s"$common phi extra1 extra2 extra3", "en")
    ).toDF("doc_id", "text", "lang")
    val prefix = prefixJaccardPairs(docs)
      .select("lang", "doc_a", "doc_b", "jaccard").collect().toSet
    val salted = Dedup.saltedJaccardPairs(docs)
      .select("lang", "doc_a", "doc_b", "jaccard").collect().toSet
    assert(prefix === salted)
    assert(prefix.map(r => (r.getLong(1), r.getLong(2))) ===
      Set((0L, 1L), (4L, 5L)))
  }

  test("prefix candidate generation is complete at the size boundary") {
    import spark.implicits._
    // 19 shared + 1 differing token: J = 19/21 ≈ 0.905; at t=0.9 the
    // pair must survive, at t=0.95 it must not — both vs brute force
    val common = (1 to 19).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, s"$common only0", "en"),
      (1L, s"$common only1", "en")
    ).toDF("doc_id", "text", "lang")
    for (t <- Seq(0.9, 0.95)) {
      val p = prefixJaccardPairs(docs, t).count()
      val s = Dedup.saltedJaccardPairs(docs, t).count()
      assert(p === s, s"threshold $t")
    }
  }

  test("prefix and salted Jaccard plans agree on randomized corpora") {
    import spark.implicits._
    // seeded random corpora over a small vocab (maximal collision
    // pressure on the prefix filter) across loose and tight thresholds
    val rnd = new scala.util.Random(20260812L)
    for (iter <- 1 to 3) {
      val vocab = (1 to 12).map(i => s"v$i")
      val docs = (0 until 40).map { id =>
        val n = 5 + rnd.nextInt(15)
        val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (id.toLong, text, if (rnd.nextBoolean()) "en" else "fr")
      }.toDF("doc_id", "text", "lang")
      for (t <- Seq(0.5, 0.8, 0.95)) {
        val key = (r: org.apache.spark.sql.Row) =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
        val p = prefixJaccardPairs(docs, t)
          .select("lang", "doc_a", "doc_b", "jaccard").collect().map(key).toSet
        val s = Dedup.saltedJaccardPairs(docs, t)
          .select("lang", "doc_a", "doc_b", "jaccard").collect().map(key).toSet
        assert(p === s, s"iter $iter threshold $t")
      }
    }
  }

  test("SimHashMd5 expression equals its HOF reference form") {
    val toks = array_distinct(tokens(normText(col("text"))))
    val rows = fixture.select(
      graft.functions.HashFunctions.simhashMd5(toks).as("fast"),
      simhashMd5Hof(toks).as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    assert(rows.nonEmpty)
  }

  test("SimHashMd5Wide matches an independent JVM reference, both paths") {
    // the q23 oracle proves cross-engine value parity at sf0.01; this
    // pins the compiled expression (codegen + interpreted agree with a
    // from-the-digest reference computed test-side)
    def ref(ts: Seq[String]): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val tally = new Array[Int](64)
      ts.foreach { t =>
        md.reset()
        val d = md.digest(t.getBytes("UTF-8"))
        val h = (0 until 8).foldLeft(0L)((a, k) => (a << 8) | (d(k) & 0xffL))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
          b += 1
        }
      }
      (63 to 0 by -1).foldLeft(0L)((a, b) =>
        (a << 1) | (if (tally(b) > 0) 1L else 0L))
    }
    val toks = array_distinct(tokens(normText(col("text"))))
    val rows = fixture.select(
      toks.as("tk"),
      graft.functions.HashFunctions.simhashMd5Wide(toks).as("fast")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("fast") === ref(r.getSeq[String](0))))
  }

  test("shingles of a short doc are empty, not an error") {
    val n = fixture
      .filter(col("doc_id") === 4)
      .select(wordShingles(col("text"), 3).as("sh"))
      .collect()(0).getSeq[String](0)
    assert(n.isEmpty)
  }
}

/** `functions._` reference forms of the single-pass hash expressions,
  * value-identical by the equivalence tests above. */
object DedupSpec {

  /** Exact same-lang Jaccard ≥ `threshold` pairs via PREFIX FILTERING
    * (the SSJoin/PPJoin principle — Chaudhuri et al., ICDE 2006; Xiao
    * et al., WWW 2008; public algorithm):
    *
    * J(A,B) ≥ t implies min(|A|,|B|)/max ≥ t, hence the required
    * overlap is o ≥ ⌈t·|A|⌉, and any qualifying pair must share a
    * token within the first `|X| − ⌈t·|X|⌉ + 1` tokens of EACH side
    * under any one global total order. Ordering tokens by ascending
    * document frequency puts each doc's RAREST tokens in its prefix, so
    * candidate generation is an equi-join on (lang, rare-token) — near
    * linear in practice — instead of the quadratic within-block join.
    * The join ships (token, doc_id) rows only; token sets re-attach to
    * the few surviving candidates by id (q21's ids-only discipline).
    * Verify stage is the exact sorted-merge intersect, so the result
    * set is identical to the brute-force block join: this spec checks
    * `Dedup.saltedJaccardPairs` (q22) against it.
    *
    * WHEN to pick which plan: prefix filtering wins when prefix tokens
    * are selective (realistic Zipfian vocabularies — candidates scale
    * with rare-token collisions, not block size²). On a tiny-vocab
    * corpus every token is common and the prefix join degenerates to
    * more candidates than the size-filtered block join itself (measured
    * here at sf0.1: vocab ≈31 tokens/lang → 2.46M prefix candidates vs
    * 583k block pairs), which is why q22 runs the salted block join.
    */
  def prefixJaccardPairs(
      docs: DataFrame,
      threshold: Double = 0.95): DataFrame = {
    // persist() lives until the caller materializes the result; the
    // mains clear it per-query (spark.catalog.clearCache()), long-lived
    // sessions own the same responsibility
    val sets = Dedup.hashedTokenSets(docs).persist()
    // global document frequency per token hash — the prefix order
    val df = sets
      .select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("df"))
    // per-doc prefix: k rarest tokens, k = n − ⌈t·n⌉ + 1
    val prefixes = sets
      .select(col("doc_id"), col("lang"), col("nt"),
        explode(col("toks")).as("tok"))
      .join(df, Seq("lang", "tok"))
      .withColumn("k",
        (col("nt") - ceil(col("nt") * threshold) + 1).cast("int"))
      .withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("tok"))))
      .filter(col("rk") <= col("k"))
      .select(col("lang"), col("tok"), col("doc_id"))
    // candidates: ids only through the (lang, token) equi-join
    val cand = prefixes
      .join(prefixes
          .withColumnRenamed("doc_id", "doc_b"),
        Seq("lang", "tok"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("lang"), col("doc_id").as("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val out = cand
      .join(sets.select(col("doc_id").as("doc_a"),
        col("toks").as("t_a"), col("nt").as("n_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"),
        col("toks").as("t_b"), col("nt").as("n_b")), Seq("doc_b"))
      // sound size pre-filter: J ≤ min(n)/max(n) — skips the merge
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")) * threshold)
      .withColumn("jaccard", jaccardBySize(
        graft.functions.HashFunctions
          .sortedLongIntersectSize(col("t_a"), col("t_b")),
        col("n_a"), col("n_b")))
      .filter(col("jaccard") >= threshold)
      .select("lang", "doc_a", "doc_b", "jaccard")
    out
  }

  /** HOF reference form of [[graft.functions.TextFunctions.wordShingles]].
    * Guard: sequence(1, 0) DESCENDS in Spark, which would feed
    * slice a zero start — short docs must yield an empty array instead.
    */
  def wordShinglesHof(c: Column, n: Int): Column = {
    val toks = tokens(c)
    when(
      size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Reference HOF form of [[graft.functions.TextFunctions.minhashSignature]] (k× slower: re-hashes
    * the string per lane) — kept for equivalence testing.
    */
  def minhashSignatureHof(shingles: Column, k: Int): Column =
    transform(
      sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingles, s => xxhash64(s, i))))

  /** Reference HOF form of [[graft.functions.TextFunctions.simhash64]] (64 folds over the tokens) —
    * kept for equivalence testing.
    */
  def simhash64Hof(toks: Column): Column = {
    def tally(i: Int): Column =
      aggregate(
        toks,
        lit(0),
        (acc, t) =>
          acc + when(shiftrightunsigned(xxhash64(t), i).bitwiseAND(1) === 1, 1)
            .otherwise(-1))
    (63 to 0 by -1).foldLeft(lit(0L)) { (acc, i) =>
      shiftleft(acc, 1).bitwiseOR(when(tally(i) > 0, 1L).otherwise(0L))
    }
  }

  /** HOF reference form of [[graft.functions.SimHashMd5]] — built only
    * from `functions._` (md5/conv/aggregate). The executable
    * specification; q57 runs the single-pass expression.
    */
  def simhashMd5Hof(toks: Column): Column = {
    val hs = transform(toks,
      tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long"))
    aggregate(
      sequence(lit(0), lit(31)),
      lit(0L),
      (acc, b) => {
        val p = floor(pow(lit(2.0), b)).cast("long")
        val vote = aggregate(hs, lit(0L),
          (a, h) => a + (pmod(floor(h.cast("double") / p.cast("double"))
            .cast("long"), lit(2L)) * 2 - 1))
        acc + when(vote > 0, p).otherwise(lit(0L))
      })
  }
}
