package graft

import org.apache.spark.sql.functions._

import graft.queries.Corpus

/** Behavior of the corpus-preparation operators on planted fixtures
  * (their value parity vs DuckDB is covered by the q52-q55 oracles).
  */
class CorpusSpec extends SparkTestBase {

  test("bm25: more query-term occurrences rank higher, all else equal") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spark spark spark filler filler filler filler filler", "en", "s", 8L),
      (1L, "spark filler filler filler filler filler filler bits", "en", "s", 8L),
      (2L, "filler filler filler filler filler filler filler bits", "en", "s", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.createOrReplaceTempView("corpus_docs")
    val dir = java.nio.file.Files.createTempDirectory("corpusspec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val scores = Corpus.defs.find(_.name == "q52_bm25").get
      .fn(spark, dir).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(0L) > scores(1L))
    assert(scores(1L) > scores(2L))
    assert(scores(2L) === 0.0) // no query term at all
  }

  test("hash split is a pure function of text: stable across partitioning") {
    import spark.implicits._
    val docs = (1 to 200)
      .map(i => (i.toLong, s"document number $i with text", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("corpusspec").toString
    val q = Corpus.defs.find(_.name == "q53_hash_split").get
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val once = q.fn(spark, dir).collect().toSet
    docs.repartition(16).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the dataset was regenerated in place — drop the memoized table
    // handle (Tables.t contract: datasets are immutable per JVM)
    graft.core.Tables.refreshTables()
    val again = q.fn(spark, dir).collect().toSet
    assert(once === again)
  }

  test("stratified sample is stable across partitionings and caps per stratum") {
    import spark.implicits._
    val docs = (1 to 300)
      .map(i => (i.toLong, s"text body $i", if (i % 3 == 0) "en" else "fr",
        "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("corpusspec").toString
    val q = Corpus.defs.find(_.name == "q63_stratified_sample").get
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val once = q.fn(spark, dir).collect().toSet
    docs.repartition(16).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // regenerated in place — drop the memoized table handle
    graft.core.Tables.refreshTables()
    val again = q.fn(spark, dir).collect().toSet
    assert(once === again)
    val perLang = once.groupBy(_.getString(0)).view.mapValues(_.size).toMap
    assert(perLang === Map("en" -> 20, "fr" -> 20))
  }

  test("stratified sample: prefiltered plan equals the naive window, " +
      "incl. forced-fallback safety levels") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = (1 to 500)
      .map(i => (i.toLong, s"doc payload $i", i % 4 match {
        case 0 => "en"; case 1 => "fr"; case 2 => "de"; case _ => "tiny"
      }, "s", 10L))
      // "tiny" stratum smaller than k: keep-all path must hold
      .filter { case (id, _, l, _, _) => l != "tiny" || id <= 30 }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val w = Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
    val naive = docs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 7)
      .select("lang", "rk", "doc_id").collect().toSet
    // safety=8 (normal), safety=1 (cutoff likely under-delivers → some
    // strata take the fallback branch), safety=0 (cutoff 0 → EVERY
    // stratum falls back) must all be bit-identical to the naive window
    for (safety <- Seq(8L, 1L, 0L)) {
      val got = Corpus.stratifiedSample(docs, k = 7, safety = safety)
        .select("lang", "rk", "doc_id").collect().toSet
      assert(got === naive, s"mismatch at safety=$safety")
    }
  }

  test("stratified sample: the corpus is filtered BEFORE the stratum window") {
    val dir = SharedSpark.Sf0001
    val df = Corpus.defs.find(_.name == "q63_stratified_sample").get
      .fn(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // the per-stratum window must sit above the hv<cutoff survivor
    // filter (plus the fallback union), never directly above the scan
    val wIdx = plan.indexOf("Window")
    assert(wIdx >= 0, "no Window in plan")
    val below = plan.substring(wIdx)
    assert(below.contains("Union"), s"no fallback union under the window:\n$plan")
    assert(below.contains("cutoff"), s"no cutoff prefilter under the window:\n$plan")
    // Spark's InferWindowGroupLimit turns the row_number<=k filter into
    // a per-partition bounded top-k instead of ranking every row
    assert(plan.contains("WindowGroupLimit"),
      s"q63 lost the group-limit rewrite (full rank materialized):\n$plan")
  }

  test("contamination: a verbatim benchmark copy scores ratio 1.0") {
    import spark.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, benchText, "en", "s", 40L), // doc_id % 20 == 0 → benchmark
      (1L, benchText, "en", "s", 40L), // full copy → ratio 1
      (2L, "alpha beta gamma something else entirely here now", "en", "s", 40L),
      (3L, "unrelated words only appearing in this document text", "en", "s", 40L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("corpusspec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Corpus.defs.find(_.name == "q54_contamination").get
      .fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(!out.contains(0L)) // benchmark docs are not scored
    assert(out(1L) === 1.0)
    assert(out(2L) > 0.0 && out(2L) < 1.0) // shares the first shingle(s)
    assert(out(3L) === 0.0)
  }

  test("chunking covers every token: stride windows tile the doc") {
    import spark.implicits._
    val nTok = 40 // → chunks start at 0,12,24,36; last is partial (4)
    val text = (1 to nTok).map(i => s"t$i").mkString(" ")
    val docs = Seq((0L, text, "en", "s", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("corpusspec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chunks = Corpus.defs.find(_.name == "q55_chunking").get
      .fn(spark, dir).orderBy("chunk_idx").collect()
    assert(chunks.length === 4)
    // every chunk starts at stride*idx and is at most ChunkLen long
    chunks.foreach { r =>
      val idx = r.getLong(1)
      val toks = r.getString(2).split(" ")
      assert(toks.head === s"t${idx * Corpus.ChunkStride + 1}")
      assert(r.getInt(3) <= Corpus.ChunkLen)
      assert(toks.length === r.getInt(3))
    }
    // union of chunk tokens = the document's tokens (full coverage)
    val covered = chunks.flatMap(_.getString(2).split(" ")).toSet
    assert(covered === (1 to nTok).map(i => s"t$i").toSet)
  }
}
