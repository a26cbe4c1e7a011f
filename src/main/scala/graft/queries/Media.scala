package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, QueryPack}
import graft.core.Tables.t
import graft.multimodal.Multimodal

/** Multimodal codec queries with HONEST DuckDB oracles: the payloads
  * are synthesized deterministically from `documents.text` (pure
  * printable ASCII in every vintage), so the oracle can compute the
  * expected post-decode statistics directly from the text while the
  * Spark side routes the SAME bytes through the REAL codecs
  * (ImageIO PNG, RIFF/PCM16 WAV). Hash equality is then a corpus-wide
  * proof that encode→decode is the identity on executor JVMs — the
  * missing end-to-end evidence for the multimodal stack beyond
  * single-fixture golden tests.
  *
  * Scale shape: both queries are embarrassingly parallel per-row
  * kernels: no shuffle at all until the final tiny aggregate.
  */
object Media extends QueryPack {

  /** First 48 ASCII codes of the doc's text, space-padded: the
    * deterministic payload seed shared by both queries. Padding
    * matters — sf0.1 has documents shorter than 48 chars, and DuckDB's
    * `ord('')` is -1, so an unpadded seed diverges (and under-fills
    * the 4x4 image) on short docs.
    */
  private val seedLen = 48

  def defs: Seq[QueryDef] = Seq(
    // ---- q158: PNG round trip through the REAL ImageIO codec ----
    // text[0:48] bytes → 4x4 RGB image → encodePng → decodeImageIO →
    // pixel statistics. PNG is lossless, so the oracle's direct
    // text-byte statistics must hash-match exactly — if the codec,
    // the BGR ordering, the row layout, or the byte/int sign handling
    // were wrong anywhere, every row would diverge.
    QueryDef(
      "q158_png_roundtrip",
      (s, d) => {
        val pngStats = udf { text: String =>
          val bytes = (text + " " * seedLen).take(seedLen).getBytes("US-ASCII")
          val png = Multimodal.encodePng(4, 4, bytes)
          Multimodal.decodeImageIO(png) match {
            case Some(("png", 4, 4, rgb)) =>
              (rgb.map(_ & 0xff).map(_.toLong).sum,
                rgb.count(b => (b & 0xff) > 109).toLong)
            case _ => (-1L, -1L)
          }
        }
        t(s, d, "documents")
          .select(col("doc_id"), pngStats(col("text")).as("st"))
          .select(col("doc_id"),
            col("st._1").as("pixel_sum"),
            col("st._2").as("n_gt_m"))
      },
      Some(s"""
        WITH ch AS (
          SELECT doc_id,
            list_transform(
              generate_series(1, $seedLen),
              i -> ord(substring(rpad(text, $seedLen, ' '),
                CAST(i AS INT), 1))) AS codes
          FROM documents)
        SELECT doc_id,
          CAST(list_sum(codes) AS BIGINT) AS pixel_sum,
          CAST(len(list_filter(codes, c -> c > 109)) AS BIGINT) AS n_gt_m
        FROM ch""")),

    // ---- q159: WAV round trip through the RIFF/PCM16 codec ----
    // text[0:48] codes → centered PCM16 samples (code*256 - 16384) →
    // encodeWav → decodeWav → sample statistics. decodeWav is exact,
    // so the oracle computes the same stats straight from the text.
    QueryDef(
      "q159_wav_roundtrip",
      (s, d) => {
        val wavStats = udf { text: String =>
          val samples = (text + " " * seedLen).take(seedLen).getBytes("US-ASCII")
            .map(b => ((b & 0xff) * 256 - 16384).toShort)
          val wav = Multimodal.encodeWav(8000, 1, samples)
          Multimodal.decodeWav(wav) match {
            case Some((8000, 1, got)) =>
              (got.map(_.toLong).sum, got.map(_.toLong).max,
                got.map(_.toLong).min)
            case _ => (-1L, -1L, -1L)
          }
        }
        t(s, d, "documents")
          .select(col("doc_id"), wavStats(col("text")).as("st"))
          .select(col("doc_id"),
            col("st._1").as("sample_sum"),
            col("st._2").as("sample_max"),
            col("st._3").as("sample_min"))
      },
      Some(s"""
        WITH ch AS (
          SELECT doc_id,
            list_transform(
              generate_series(1, $seedLen),
              i -> ord(substring(rpad(text, $seedLen, ' '),
                CAST(i AS INT), 1)) * 256 - 16384)
              AS samples
          FROM documents)
        SELECT doc_id,
          CAST(list_sum(samples) AS BIGINT) AS sample_sum,
          CAST(list_max(samples) AS BIGINT) AS sample_max,
          CAST(list_min(samples) AS BIGINT) AS sample_min
        FROM ch""")),

    // ---- q326: image near-duplicate detection — the full pipeline:
    //      synthesize → encode through the REAL PNG codec → decode →
    //      average-hash (aHash) → banded Hamming join. aHash is the
    //      integer-exact perceptual hash (bit i = pixel_i > mean,
    //      computed as 64·p_i > Σp so no division crosses engines),
    //      which is what lets the DuckDB oracle re-derive every hash
    //      straight from the text bytes while Spark's path crosses
    //      encodePng→ImageIO — corpus-wide codec-identity evidence
    //      AND a planted-pair near-dup benchmark in one query (every
    //      5th doc also emits a one-byte-perturbed variant; its
    //      hash lands within Hamming ≤ 3 of the original).
    //
    //      Scale shape: the 64-bit hash splits into 4 × 16-bit bands;
    //      any pair within Hamming ≤ 3 shares at least one band
    //      (pigeonhole), so candidates come from a band equi-join —
    //      never all-pairs. Band width is the knob: at 100 TB widen
    //      bands / add a second-level key so bucket sizes stay
    //      bounded (the same LSH discipline as q21/q25). Image bytes
    //      never shuffle — only (id, 64-char hash) rows. ----
    QueryDef(
      "q326_image_neardup",
      (s, d) => {
        // 4 x 16-bit band values (bit j of band b = pixel 16b+j above
        // the mean, MSB first): integers all the way down, so the
        // Hamming stage is bit_count(xor) per band instead of 64
        // interpreted string compares per pair (the first cut spent
        // ~45 s of its 63 s there at sf0.1)
        val ahash = udf { pre: String =>
          val g = pre.getBytes("US-ASCII").map(_ & 0xff)
          val rgb = g.flatMap(p => Array(p.toByte, p.toByte, p.toByte))
          val png = Multimodal.encodePng(8, 8, rgb)
          Multimodal.decodeImageIO(png) match {
            case Some(("png", 8, 8, out)) =>
              val gray = (0 until 64).map(i => out(i * 3) & 0xff)
              val sum = gray.sum
              (0 until 4).map { b =>
                (0 until 16).map { i =>
                  (if (64L * gray(16 * b + i) > sum) 1 else 0) <<
                    (15 - i)
                }.sum.toLong
              }
            case other =>
              // A decode failure here is codec-identity breakage
              // (the oracle still hashes the row from text) — fail
              // the query rather than silently drop the row from
              // the band join as a missing pair.
              throw new IllegalStateException(
                s"q326: ImageIO failed to round-trip an 8x8 PNG " +
                  s"(got $other) — codec regression, refusing to " +
                  "drop the row silently")
          }
        }
        val docs = t(s, d, "documents").select(col("doc_id"),
          expr(s"substring(concat(text, repeat(' ', 64)), 1, 64)")
            .as("pre"))
        val vars = docs
          .select(col("doc_id"), lit(0L).as("v"), col("pre"))
          .unionByName(docs.filter(col("doc_id") % 5 === 0)
            .select(col("doc_id"), lit(1L).as("v"),
              concat(expr("substring(pre, 1, 3)"),
                expr("chr(ascii(substring(pre, 4, 1)) + 1)"),
                expr("substring(pre, 5, 60)")).as("pre")))
        // persist the hash table: the codec UDF is the expensive
        // stage (ImageIO serializes on a global registry lock) and
        // the band self-join + distinct would otherwise re-evaluate
        // it 3-4x; cached it is one pass over (id, 4-int) rows
        val bits = vars
          .select(col("doc_id"), col("v"), ahash(col("pre")).as("k"))
          .persist()
        val bands = bits
          .select(col("doc_id"), col("v"), col("k"),
            explode(sequence(lit(0), lit(3))).as("bi"))
          .withColumn("key", expr("k[bi]"))
        val cand = bands.as("x").join(bands.as("y"),
            col("x.bi") === col("y.bi") && col("x.key") === col("y.key") &&
              (col("x.doc_id") < col("y.doc_id") ||
                (col("x.doc_id") === col("y.doc_id") &&
                  col("x.v") < col("y.v"))))
          .select(col("x.doc_id").as("doc_a"), col("x.v").as("va"),
            col("y.doc_id").as("doc_b"), col("y.v").as("vb"),
            col("x.k").as("ka"), col("y.k").as("kb"))
          .distinct()
        cand
          .withColumn("hamming",
            expr("bit_count(ka[0] ^ kb[0]) + bit_count(ka[1] ^ kb[1])" +
              " + bit_count(ka[2] ^ kb[2]) + bit_count(ka[3] ^ kb[3])")
              .cast("long"))
          .filter(col("hamming") <= 3)
          .select("doc_a", "va", "doc_b", "vb", "hamming")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id,
            substr(text || repeat(' ', 64), 1, 64) AS pre
          FROM documents),
        var AS (
          SELECT doc_id, CAST(0 AS BIGINT) AS v, pre FROM docs
          UNION ALL
          SELECT doc_id, CAST(1 AS BIGINT) AS v,
            substr(pre, 1, 3) || chr(ord(substr(pre, 4, 1)) + 1)
              || substr(pre, 5, 60)
          FROM docs WHERE doc_id % 5 = 0),
        px AS (
          SELECT doc_id, v,
            list_transform(generate_series(1, 64),
              i -> ord(substr(pre, CAST(i AS INT), 1))) AS g
          FROM var),
        bits AS (
          SELECT doc_id, v,
            list_transform(generate_series(0, 3), b ->
              list_sum(list_transform(generate_series(0, 15), i ->
                (CASE WHEN 64 * g[CAST(16 * b + i + 1 AS INT)]
                    > list_sum(g) THEN 1 ELSE 0 END)
                  * (1 << CAST(15 - i AS INT))))) AS k
          FROM px),
        bands AS (
          SELECT doc_id, v, k, unnest(generate_series(0, 3)) AS bi
          FROM bits),
        bk AS (
          SELECT doc_id, v, k, bi, k[CAST(bi + 1 AS INT)] AS key
          FROM bands),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, x.v AS va,
            y.doc_id AS doc_b, y.v AS vb, x.k AS ka, y.k AS kb
          FROM bk x JOIN bk y ON x.bi = y.bi AND x.key = y.key
            AND (x.doc_id < y.doc_id
              OR (x.doc_id = y.doc_id AND x.v < y.v)))
        SELECT doc_a, va, doc_b, vb, hamming FROM (
          SELECT doc_a, va, doc_b, vb,
            CAST(bit_count(xor(ka[1], kb[1]))
              + bit_count(xor(ka[2], kb[2]))
              + bit_count(xor(ka[3], kb[3]))
              + bit_count(xor(ka[4], kb[4])) AS BIGINT) AS hamming
          FROM cand) z
        WHERE hamming <= 3""")),
  )
}
