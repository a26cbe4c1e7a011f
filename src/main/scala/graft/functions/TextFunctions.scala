package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column library for the LLM-pipeline operators
  * (SURVEY §7.5): tokenization, shingling, MinHash signatures, SimHash,
  * language-ID heuristics and quality metrics.
  *
  * Everything here is pure `Column` composition over
  * `org.apache.spark.sql.functions` — no UDFs — so the expressions stay
  * inside Catalyst, serialize to executors without closures, and benefit
  * from whole-stage codegen where the operators support it. Hash basis is
  * `xxhash64`, Spark's codegen'd 64-bit hash.
  */
object TextFunctions {

  /** Whitespace-normalized lowercase text (dedup canonical form). */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Whitespace tokens of trimmed text. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Distinct word n-gram shingles, e.g. n=3: "a b c d" → ["a b c","b c d"].
    * Documents shorter than n tokens yield an empty array. Evaluated by
    * the single-pass [[HashFunctions.wordNGrams]] expression; DedupSpec
    * checks it against a value-identical HOF spelling.
    */
  def wordShingles(c: Column, n: Int): Column =
    HashFunctions.wordNGrams(tokens(c), n)

  /** MinHash signature: k independent min-hashes over the shingle set.
    * Hash family i is `xxhash64(shingle, i)`. Evaluated by the
    * single-pass [[HashFunctions.minhashSig]] expression; DedupSpec
    * checks it against a value-identical HOF spelling.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    HashFunctions.minhashSig(shingles, k)

  /** LSH band keys for a MinHash signature: b bands of r rows each; key =
    * hash of (band index, the r signature slots). Two docs sharing any
    * band key become a candidate pair: P(candidate) = 1-(1-J^r)^b.
    */
  def bandKeys(sig: Column, b: Int, r: Int): Column =
    transform(
      sequence(lit(0), lit(b - 1)),
      j => xxhash64(j, slice(sig, j * r + lit(1), lit(r))))

  /** Jaccard similarity of two pre-distinct array columns, as the exact
    * ratio of two intersection/union cardinalities (cross-engine
    * deterministic: one int division in double).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Jaccard from precomputed set sizes: |A∪B| = |A|+|B|−|A∩B|, so only
    * the intersection is materialized — ~2× cheaper on wide token sets
    * in pair-verify joins. Exactly equal to [[jaccard]] for distinct
    * arrays.
    */
  def jaccardBySize(inter: Column, na: Column, nb: Column): Column =
    inter.cast("double") / (na + nb - inter).cast("double")

  /** 64-bit SimHash over a token array: each token votes its hash bits
    * up/down; the fingerprint takes the sign of each bit's tally.
    * Near-identical docs land within a few bits of Hamming distance.
    * Evaluated by the single-pass [[HashFunctions.simhash64]]
    * expression; DedupSpec checks it against a value-identical HOF
    * spelling.
    */
  def simhash64(toks: Column): Column = HashFunctions.simhash64(toks)

  /** Language-marker vocabularies for the n-gram/stopword lang-ID
    * heuristic. Top high-frequency function words per language — a
    * classic, public heuristic (cf. the "stopword overlap" family of
    * language identifiers).
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "las"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un", "une", "du"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "im", "ein", "mit"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** Heuristic language ID: the language whose marker set overlaps the
    * token set most; ties and zero overlap → "und" (undetermined).
    * Evaluated by the single-pass [[LangIdExpr]] expression;
    * TextAnalysisSpec checks it against a value-identical HOF
    * spelling.
    */
  def langId(c: Column): Column =
    LangIdFunctions.langIdExpr(tokens(lower(c)))

  /** Quality metrics struct: character/token counts and ratio features
    * (alpha ratio, whitespace ratio, mean token length, stopword ratio)
    * — the length/punctuation/stopword heuristics used by public web-text
    * quality filters (C4/Gopher-style rules).
    */
  def qualityMetrics(c: Column): Column = {
    val toks = tokens(c)
    val nChars = length(c).cast("double")
    // fused one-pass byte counters (r14): the regexp_replace forms
    // re-built the whole string per row just to measure it — value
    // equality (incl. multi-byte input) is pinned by UnicodeSpec
    val nAlpha = UnicodeFunctions.alphaCount(c).cast("double")
    val nSpace = UnicodeFunctions.whitespaceCount(c)
    val stop = array(langMarkers("en").map(lit): _*)
    struct(
      size(toks).cast("long").as("n_tokens"),
      (nChars / size(toks)).as("chars_per_token"),
      (nAlpha / nChars).as("alpha_ratio"),
      (nSpace.cast("double") / nChars).as("space_ratio"),
      (size(array_intersect(array_distinct(toks), stop)).cast("double") /
        size(array_distinct(toks))).as("stopword_ratio"))
  }
}
