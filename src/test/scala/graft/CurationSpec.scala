package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.queries.Curation
import CurationSpec._

/** Planted-fixture evidence for the curation pack (the DuckDB oracle
  * certifies full-corpus values; these pin the semantics on inputs with
  * known answers) plus the scale plan-asserts: the per-row ops must
  * compile to shuffle-free plans.
  */
class CurationSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("ngrams: positional grams, short docs yield empty") {
    val df = docs((1L, "a b c d e f"), (2L, "a b c"))
      .select(col("doc_id"), ngrams(split(col("text"), " "), 5).as("g"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(1L) === Seq("a b c d e", "b c d e f"))
    assert(m(2L) === Seq.empty)
  }

  test("compiled NgramMd5 equals the HOF transform+slice+md5 reference form") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(
        graft.functions.HashFunctions
          .ngramMd5(split(trim(col("text")), "\\s+"), 5).as("fast"),
        ngramIds(split(trim(col("text")), "\\s+"), 5).as("ref"))
    assert(df.filter(not(col("fast") === col("ref"))).count() === 0)
  }

  test("compiled NgramJoin equals the HOF positional-gram reference form") {
    for (n <- Seq(2, 3)) {
      val df = spark.read.parquet(s"$sf/documents.parquet")
        .select(
          graft.functions.HashFunctions
            .ngramJoin(split(trim(col("text")), "\\s+"), n).as("fast"),
          ngrams(split(trim(col("text")), "\\s+"), n).as("ref"))
      assert(df.filter(not(col("fast") === col("ref"))).count() === 0)
    }
  }

  test("compiled gram kernels equal HOF forms on randomized adversarial tokens") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // vocab includes empty strings and NULL tokens (array_join skips nulls)
    val vocab = Vector("a", "bg", "x1", "", "emu", " ", "zz", "0", null)
    val docs = Seq.tabulate(300) { i =>
      val n = rng.nextInt(8) // includes shorter-than-n docs
      (i.toLong, Vector.fill(n)(vocab(rng.nextInt(vocab.size))))
    }.toDF("doc_id", "tk")
    for (n <- Seq(1, 2, 3, 5)) {
      val bad = docs.select(
        graft.functions.HashFunctions.ngramJoin(col("tk"), n).as("fj"),
        ngrams(col("tk"), n).as("rj"),
        graft.functions.HashFunctions.ngramMd5(col("tk"), n).as("fm"),
        ngramIds(col("tk"), n).as("rm"))
        .filter(not(col("fj") === col("rj")) || not(col("fm") === col("rm")))
        .count()
      assert(bad === 0, s"n=$n mismatch")
    }
  }

  test("kernels code-generate: kernel calls appear in generated code, no fallback") {
    // Spark silently falls back to interpreted eval when doGenCode's
    // output fails to compile — assert the generated source actually
    // carries the kernel calls
    val gramDf = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.functions.HashFunctions
        .ngramMd5(split(trim(col("text")), "\\s+"), 5).as("g"))
    val gramCode = org.apache.spark.sql.execution.debug
      .codegenString(gramDf.queryExecution.executedPlan)
    assert(gramCode.contains("HashExpressionsInternal.ngramMd5"),
      s"NgramMd5 kernel call missing from generated code:\n$gramCode")

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cosDf = emb.select(graft.functions.VectorFunctions
      .cosine(col("embedding"), col("embedding")).as("c"))
    val cosCode = org.apache.spark.sql.execution.debug
      .codegenString(cosDf.queryExecution.executedPlan)
    assert(cosCode.contains("java.lang.Math.sqrt"),
      s"FloatVecCosine loop missing from generated code:\n$cosCode")
    // and the results are live, not fallback artifacts
    assert(cosDf.filter(abs(col("c") - 1.0) < 1e-9).count() === emb.count())

    // the reference-object kernels: shingles, minhash, LSH buckets and
    // the crossmatch label all stay inside the generated projection
    val toks = split(trim(col("text")), "\\s+")
    val hashDf = spark.read.parquet(s"$sf/documents.parquet")
      .select(
        graft.functions.HashFunctions.wordNGrams(toks, 3).as("sh"),
        graft.functions.HashFunctions.minhashSig(toks, 16).as("mh"))
    val hashCode = org.apache.spark.sql.execution.debug
      .codegenString(hashDf.queryExecution.executedPlan)
    assert(hashCode.contains("HashExpressionsInternal.wordNGrams"), hashCode)
    assert(hashCode.contains("HashExpressionsInternal.minHashSig"), hashCode)

    val lshDf = emb.select(graft.functions.VectorExpressions
      .lshBuckets(col("embedding"),
        Array.fill(8)(Array.fill(64)(0.1)), 1, 8).as("b"))
    val lshCode = org.apache.spark.sql.execution.debug
      .codegenString(lshDf.queryExecution.executedPlan)
    assert(lshCode.contains(".kernel("),
      s"LSH bucket kernel call missing:\n$lshCode")
  }

  test("ngramDupStats: shared 5-gram marks both docs, unique doc stays clean") {
    // docs 1 and 2 share exactly one 5-gram span; doc 3 shares nothing
    val df = Curation.ngramDupStats(
      docs(
        (1L, "x1 x2 q q q q q y1 y2"),
        (2L, "z1 z2 q q q q q w1 w2"),
        (3L, "a b c d e f g h i")),
      5)
    val m = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 9 tokens → 5 gram positions each; "q q q q q" occurs in docs 1+2
    assert(m(1L)._1 === 5 && m(1L)._2 === 1)
    assert(m(2L)._1 === 5 && m(2L)._2 === 1)
    assert(m(3L) === ((5L, 0L)))
  }

  test("repetitionStats: repetitive doc dropped, diverse doc kept") {
    val diverse = (1 to 40).map(i => s"w$i").mkString(" ")
    val repetitive = Seq.fill(20)("spam ham").mkString(" ")
    val df = Curation.repetitionStats(docs((1L, diverse), (2L, repetitive)))
    val m = df.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(4)))
      .toMap
    assert(m(1L)._1 === 1.0 / 40.0)
    assert(m(1L)._3 === 1L, "diverse doc must be kept")
    assert(m(2L)._1 === 0.5) // 20/40 "spam"
    assert(m(2L)._2 === 1.0) // every 2-gram duplicated
    assert(m(2L)._3 === 0L, "repetitive doc must be dropped")
  }

  test("redactPii replaces all three span kinds, counts match") {
    val df = docs((1L, "hi user9@mail.net or +12-345-6789 at 10.0.3.44 ok"))
      .select(
        Curation.redactPii(col("text")).as("r"),
        size(regexp_extract_all(col("text"), lit(Curation.EmailPat), lit(0)))
          .as("ne"))
    val row = df.head()
    assert(row.getString(0) === "hi [EMAIL] or [PHONE] at [IP] ok")
    assert(row.getInt(1) === 1)
  }

  test("budget sample is deterministic and weights invert rates") {
    val q = SparkEntry.queries("q75_budget_sample")
    val a = q(spark, sf).collect().map(_.getLong(0)).sorted
    val b = q(spark, sf).collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b), "resampling must be reproducible")
    val w = q(spark, sf).select("rate", "weight").distinct().collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    w.foreach { case (rate, weight) =>
      assert(rate * weight === 1.0, s"rate $rate × weight $weight ≠ 1")
    }
  }

  test("sequence packing conserves tokens and respects the budget bound") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
    val totals = docs.groupBy("source").agg(
      sum("n").as("tot"), max("n").as("maxdoc"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val packed = SparkEntry.queries("q81_sequence_pack")(spark, sf).collect()
    packed.groupBy(_.getString(0)).foreach { case (src, rows) =>
      // conservation: every token lands in exactly one (shard, bin)
      assert(rows.map(_.getLong(4)).sum === totals(src)._1, src)
      // next-fit bound: a bin holds < budget + one straddling doc
      rows.foreach { r =>
        assert(r.getLong(4) < 2048L + totals(src)._2,
          s"$src shard ${r.getString(1)} bin ${r.getLong(2)} " +
            s"overflows: ${r.getLong(4)}")
      }
    }
    // bins are contiguous from 0 within each (source, shard)
    packed.groupBy(r => (r.getString(0), r.getString(1))).foreach {
      case ((src, sh), rows) =>
        val bins = rows.map(_.getLong(2)).sorted
        assert(bins.head === 0L &&
          bins === (0L until bins.size).toArray.toSeq.sorted, s"$src/$sh")
    }
  }

  test("q81 window shards on (source, md5-prefix), not source alone") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q81_sequence_pack")(spark, sf)
    // plan-level: the packing window partitions on the COMPOSITE key,
    // so one hot source cannot collapse the sort into a single task
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.partitionSpec.size === 2,
        s"window must shard on (source, shard): ${w.partitionSpec}")
    }
    // data-level: granularity strictly exceeds the source count
    val nSrc = df.select("source").distinct().count()
    val nShard = df.select("source", "shard").distinct().count()
    assert(nShard > nSrc, s"shards=$nShard sources=$nSrc")
  }

  test("curation scans prune to the columns each query needs") {
    // q72 reads only (doc_id, text); q81 only (doc_id, source, text)
    val p72 = SparkEntry.queries("q72_ngram_corpus_dedup")(spark, sf)
      .queryExecution.executedPlan.toString()
    for (c <- Seq("lang", "source", "n_chars")) {
      assert(!p72.contains(c), s"q72 scan reads unneeded column $c")
    }
    val p81 = SparkEntry.queries("q81_sequence_pack")(spark, sf)
      .queryExecution.executedPlan.toString()
    for (c <- Seq("lang", "n_chars")) {
      assert(!p81.contains(c), s"q81 scan reads unneeded column $c")
    }
  }

  test("q72's gram stage carries only (gram, id, count) — never text") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val df = SparkEntry.queries("q72_ngram_corpus_dedup")(spark, sf)
    // the width contract is a logical-plan property (column pruning),
    // and the optimized logical plan is not hidden behind AQE stages.
    // r14 replaced the per-gram df join-back with a g-partitioned
    // window count, so the stronger contract holds: NO join exists at
    // all, and the window (the one gram-keyed exchange) sees only the
    // skinny (doc_id, g, c) rows.
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.isEmpty, s"q72 should be join-free since r14:\n$joins")
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.child.output.size <= 3, s"window input too wide:\n$w")
      assert(!w.child.output.exists(_.name == "text"),
        s"document text crossed into the gram window:\n$w")
    }
  }
}

object CurationSpec {

  /** Positional word n-grams as space-joined strings; empty when the
    * doc is shorter than n (guarded — Spark's `sequence(1, 0)` would
    * count DOWN, unlike DuckDB's empty `generate_series(1, 0)`). The
    * HOF reference form of `HashFunctions.ngramJoin`.
    */
  def ngrams(tk: Column, n: Int): Column =
    when(size(tk) >= n,
      transform(sequence(lit(1), size(tk) - (n - 1)),
        i => array_join(slice(tk, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** 16-byte gram fingerprints: the HOF reference form of
    * `HashFunctions.ngramMd5`. */
  def ngramIds(tk: Column, n: Int): Column =
    when(size(tk) >= n,
      transform(sequence(lit(1), size(tk) - (n - 1)),
        i => md5(array_join(slice(tk, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
}
