package graft.enrich

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.alerts.{AlertFunctions, Crossmatch}

/** U1/§2.14: the science-module pipeline at the reference's arity
  * (`apply_science_modules`, ref: fink_broker/ztf/science.py:201-436:
  * 11 history columns, catalog crossmatches, then ~12 scorer modules).
  *
  * The engine contract is exactly the reference's: columns in, columns
  * appended, never a shuffle — the whole enrichment is one narrow plan
  * per micro-batch (crossmatch labels come from an in-executor catalog
  * snapshot, [[Crossmatch.nearestLabelExpr]]). The scorers are
  * deterministic analytic stand-ins with the reference modules' exact
  * column contract (the reference itself ships a --noscience mode with
  * the same shape, ref: bin/ztf/raw2science.py:97-104).
  *
  * Evaluation contract: [[apply]] is four flat projections — history
  * arrays, valid-value arrays, folds and gates, scores in output order —
  * and each array filter and fold is written once, in one projection,
  * that later projections read as a column. Every fold is therefore
  * evaluated once per row, and the plan does not grow with the number
  * of modules reading a feature. Structured Streaming plans the query
  * again for every micro-batch, so that size is paid per batch.
  */
object ScienceModules {

  // History arrays contain NULL entries for upper limits (non-detections),
  // exactly like real ZTF prv_candidates — every fold reads the masked
  // arrays, the expression form of the reference modules' masked arrays.

  private def validOnly(a: Column): Column = filter(a, x => x.isNotNull)

  /** Mean and population std of a null-free array in one fold: 0.0 for
    * an empty array, std 0.0 below two entries.
    */
  private def moments(a: Column): Column = {
    val n = size(a)
    aggregate(a, struct(lit(0.0).as("s"), lit(0.0).as("q")),
      (acc, x) => {
        val d = x.cast("double")
        struct((acc("s") + d).as("s"), (acc("q") + d * d).as("q"))
      },
      acc => {
        val mean = when(n > 0, acc("s") / n).otherwise(lit(0.0))
        struct(mean.as("mean"),
          when(n >= 2, sqrt(greatest(acc("q") / n - mean * mean, lit(0.0))))
            .otherwise(lit(0.0)).as("std"))
      })
  }

  private def sigmoid(x: Column): Column = lit(1.0) / (lit(1.0) + exp(-x))

  /** Detected magnitudes of one filter band, as doubles. */
  private def bandMags(fid: Int): Column =
    transform(
      filter(arrays_zip(col("cmagpsf"), col("cfid")),
        x => x("cfid") === fid && x("cmagpsf").isNotNull),
      x => x("cmagpsf").cast("double"))

  /** Per-band light-curve features (n, mean, std, amplitude) from the
    * band's magnitudes and their moments.
    */
  private def bandFeatures(mags: Column, stats: Column): Column =
    struct(
      size(mags).cast("long").as("n"),
      stats("mean").as("mean"),
      stats("std").as("std"),
      when(size(mags) > 0, array_max(mags) - array_min(mags))
        .otherwise(lit(0.0)).as("amplitude"))

  /** Deterministic stand-in catalogs for the spine's crossmatch stages
    * (seeded positions over the sphere; class vocabularies shaped like
    * the reference's CDS / GCVS / VSX outputs).
    */
  def fixtureCatalog(
      spark: SparkSession,
      classes: Seq[String],
      n: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val ra = rng.nextDouble() * 360.0
      val dec = math.toDegrees(math.asin(rng.nextDouble() * 2 - 1))
      (classes(rng.nextInt(classes.size)), ra, dec)
    }.toDF("cat_name", "cat_ra", "cat_dec")
  }

  /** Mangrove-shaped fixture: galaxy catalog with the reference's four
    * property columns (HyperLEDA_name, 2MASS_name, lum_dist, ang_dist —
    * ztf/science.py:192-196). Numbers are formatted in `Locale.ROOT`,
    * so every host writes the same strings.
    */
  def fixtureGalaxyCatalog(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val ra = rng.nextDouble() * 360.0
      val dec = math.toDegrees(math.asin(rng.nextDouble() * 2 - 1))
      (s"PGC$i", "2MASXJ%07d".formatLocal(Locale.ROOT, i),
        "%.2f".formatLocal(Locale.ROOT, rng.nextDouble() * 400),
        "%.3f".formatLocal(Locale.ROOT, rng.nextDouble() * 60), ra, dec)
    }.toDF("HyperLEDA_name", "TwoMASS_name", "lum_dist", "ang_dist",
      "cat_ra", "cat_dec")
  }

  val mangroveKeys: Seq[String] =
    Seq("HyperLEDA_name", "TwoMASS_name", "lum_dist", "ang_dist")

  /** The crossmatch columns, one per catalog snapshot (the reference
    * chains ~9 of these: cdsxmatch, gaiaClass, vsx, spicy, gcvs, 3hsp,
    * 4lac, mangrove — ref ztf/science.py:57-198). Each collects its
    * catalog into an index when built, so call this once per enrichment.
    */
  private def defaultXmatches(spark: SparkSession): Seq[Column] = {
    def label(name: String, catalog: DataFrame, radiusArcsec: Double,
        default: String = "Unknown"): Column =
      Crossmatch.nearestLabelExpr(col("candidate.ra"), col("candidate.dec"),
        catalog, radiusArcsec / 3600.0, default).as(name)
    Seq(
      label("cdsxmatch",
        fixtureCatalog(spark, Seq("Star", "RRLyr", "QSO", "AGN", "EB*"), 200, 11L),
        radiusArcsec = 1.5),
      label("gcvs",
        fixtureCatalog(spark, Seq("CEP", "MIRA", "SR"), 120, 12L),
        radiusArcsec = 1.5),
      label("vsx",
        fixtureCatalog(spark, Seq("ROT", "DSCT", "EA"), 120, 13L),
        radiusArcsec = 1.5),
      // YSO candidates (reference's spicy crossmatch, ztf/science.py:172-190)
      label("spicy_class",
        fixtureCatalog(spark, Seq("YSO", "FlatSpec", "ClassII"), 80, 15L),
        radiusArcsec = 1.2),
      // blazar catalogs (3HSP/4LAC, ztf/science.py:156-170) — wider cone
      label("x3hsp",
        fixtureCatalog(spark,
          (1 to 60).map(i => f"3HSPJ$i%06d"), 60, 16L),
        radiusArcsec = 30.0, default = ""),
      label("x4lac",
        fixtureCatalog(spark,
          (1 to 60).map(i => f"4LACJ$i%06d"), 60, 18L),
        radiusArcsec = 30.0, default = ""),
      // Gaia DR3 variable-star classes (the reference's gaiaClass /
      // gaiaVarFlag stage, rubin/science.py:48-118 config table)
      label("gaia_class",
        fixtureCatalog(spark,
          Seq("RR", "CEP", "DSCT|GDOR|SXPHE", "ECL", "LPV"), 150, 19L),
        radiusArcsec = 1.5),
      // TNS counterpart name; empty string when unmatched (the reference
      // keys its tns index table on tns != "", bin/ztf/archive_index.py)
      label("tns",
        fixtureCatalog(spark,
          (1 to 40).map(i => s"SN 2024${('a' + i % 26).toChar}$i"), 40, 14L),
        radiusArcsec = 1.5, default = ""),
      // nearest-galaxy property map (the reference's mangrove shape, 1
      // arcmin cone; every key mapped to null when unmatched, ref
      // ztf/science.py:192-196, schema_20190903.avsc)
      Crossmatch.nearestPropsExpr(col("candidate.ra"), col("candidate.dec"),
        fixtureGalaxyCatalog(spark, 150, 17L), 60.0 / 3600.0, mangroveKeys)
        .as("mangrove"))
  }

  /** History fields every module depends on — the reference's exact
    * `to_expand` list (ztf/science.py:236-250).
    */
  val historyFields: Seq[String] = Seq(
    "jd", "fid", "magpsf", "sigmapsf", "magnr", "sigmagnr", "isdiffpos",
    "distnr", "diffmaglim", "ra", "dec")

  /** The fast-transient module's fields (the reference's ft_module /
    * rate_module_output_schema, ref: ztf/science.py:354-375).
    */
  val fastTransientFields: Seq[String] = Seq("rate", "sigma_rate", "from_upper")

  /** The classes of the `t2` score map (ref rubin/science.py:337-351). */
  val t2Classes: Seq[String] = Seq("SNIa", "SNII", "KN", "AGN", "RRLyr")

  /** Science output columns the pipeline guarantees, in output order. */
  val outputColumns: Seq[String] = Seq(
    "cdsxmatch", "gcvs", "vsx", "spicy_class", "x3hsp", "x4lac",
    "gaia_class", "tns", "mangrove",
    "roid", "rf_snia_vs_nonia", "snn_snia_vs_nonia", "snn_sn_vs_all",
    "mulens", "nalerthist", "rf_kn_vs_nonkn", "mag_rate", "anomaly_score",
    "lc_features_g", "lc_features_r") ++ fastTransientFields ++ Seq(
    "is_transient", "slsn_score", "t2", "classification")

  /** The full enrichment: `df`'s columns followed by [[outputColumns]].
    * Four projections, no UDFs, no shuffles (broadcast- and
    * exchange-free; plan-asserted in NightlySpec).
    */
  def apply(df: DataFrame): DataFrame = {
    // 1. the 11 history arrays (cjd, cmagpsf, ...)
    val hist = AlertFunctions.concatCols(df, historyFields)

    // 2. crossmatch labels, each valid-value array, and the asteroid gate
    //    (ref: ztf/science.py:259-269; 3 = known SSO, 2 = new moving-object
    //    candidate, 1 = first detections, 0 = not an asteroid). Real ZTF
    //    encodes "no SSO match" as null (the fixture uses -999); the
    //    isNotNull guard keeps the predicate boolean either way.
    val nearSso = col("candidate.ssdistnr").isNotNull &&
      col("candidate.ssdistnr") >= 0 && col("candidate.ssdistnr") < 5
    val starUnder =
      col("candidate.sgscore1") > 0.76 && col("candidate.distpsnr1") < 2
    val shortHist = col("candidate.ndethist") <= 2 && size(col("cjd")) <= 2
    val valid = hist.select(Seq(col("*")) ++ defaultXmatches(df.sparkSession) ++ Seq(
      when(nearSso, 3)
        .when(shortHist && !starUnder, 2)
        .when(col("candidate.ndethist") <= 2, 1)
        .otherwise(0).as("roid"),
      validOnly(col("cmagpsf")).as("__mag"),
      validOnly(col("csigmapsf")).as("__sigmapsf"),
      validOnly(col("cmagnr")).as("__magnr"),
      validOnly(col("csigmagnr")).as("__sigmagnr"),
      // (magpsf, jd) pairs masked BEFORE taking endpoints, so a
      // null-magpsf history head cannot null the rate
      filter(arrays_zip(col("cmagpsf"), col("cjd")),
        x => x("cmagpsf").isNotNull).as("__pairs"),
      bandMags(1).as("__mag_g"),
      bandMags(2).as("__mag_r")): _*)

    // 3. every fold once: the magnitude rate (Δmag/Δday between first and
    //    last detection, the reference's magnitude_rate), the detection
    //    count (nalerthist, ztf/science.py:308-310), the moments, and the
    //    transient gate (ztf/science.py:406-423), which counts a null
    //    ssdistnr ("no SSO match") as stationary
    val first = element_at(col("__pairs"), 1)
    val last = element_at(col("__pairs"), -1)
    val dt = last("cjd") - first("cjd")
    val folds = valid.select(
      col("*"),
      when(size(col("__pairs")) >= 2 && dt > 0,
        (last("cmagpsf") - first("cmagpsf")).cast("double") / dt)
        .otherwise(lit(0.0)).as("mag_rate"),
      size(col("__mag")).cast("long").as("nalerthist"),
      moments(col("__mag")).as("__m_mag"),
      moments(col("__sigmapsf")).as("__m_sigmapsf"),
      moments(col("__magnr")).as("__m_magnr"),
      moments(col("__sigmagnr")).as("__m_sigmagnr"),
      moments(col("__mag_g")).as("__m_g"),
      moments(col("__mag_r")).as("__m_r"),
      (!(col("candidate.magpsf") > 19.5) &&
        col("candidate.isdiffpos") === "t" &&
        col("candidate.drb") >= 0.5 &&
        !starUnder &&
        !(col("candidate.distpsnr1") < 2 && col("candidate.magnr") < 15) &&
        !(col("cdsxmatch") =!= "Unknown") &&
        coalesce(col("candidate.ssdistnr") < 0, lit(true)) &&
        col("roid") === 0).as("is_transient"))

    // 4. scores and the output order, reading the folds
    val magRate = col("mag_rate")
    val magMean = col("__m_mag.mean")
    val magStd = col("__m_mag.std")
    // SuperNNova-shaped (ztf/science.py:279-290 applies the module twice
    // with different labels): sigmoid of the brightening rate
    def snn(gain: Double): Column =
      when(col("roid") === 3, lit(0.0)).otherwise(sigmoid(lit(-gain) * magRate))
    // microlensing (ztf/science.py:292-306): all-positive subtractions
    // with a well-measured reference source
    val allPositive = size(filter(col("cisdiffpos"), x => x === "t")) ===
      size(col("cisdiffpos"))
    val snr = col("__m_magnr.mean") / greatest(col("__m_sigmagnr.mean"), lit(1e-6))
    // t2 (rubin/science.py:337-351): softmax over per-class logits,
    // clamped before exp — a near-zero Δt makes mag_rate arbitrarily
    // large and exp overflow turns the softmax into NaN
    val logits: Seq[Column] = Seq(
      -magRate * 8.0,
      -magRate * 4.0,
      abs(magRate) * 10.0 - lit(2.0),
      magStd * 2.0,
      when(col("cdsxmatch") === "RRLyr", 4.0).otherwise(-2.0))
    val exps = logits.map(l => exp(least(greatest(l, lit(-20.0)), lit(20.0))))
    val z = exps.reduce(_ + _)
    // per-band features: a fid-keyed map split with getItem, as the
    // reference does (ztf/science.py:323-352)
    val lcFeatures = map(
      lit("1"), bandFeatures(col("__mag_g"), col("__m_g")),
      lit("2"), bandFeatures(col("__mag_r"), col("__m_r")))
    // SN Ia stand-in (ztf/science.py:271-277): 0 for known-class or
    // asteroid alerts
    val rfSnia =
      when(col("cdsxmatch") =!= "Unknown" || col("roid") === 3, lit(0.0))
        .otherwise(when(size(col("__mag")) > 0, (lit(22.0) - magMean) / lit(22.0))
          .otherwise(lit(0.0)))
    val scores: Map[String, Column] = Map(
      "rf_snia_vs_nonia" -> rfSnia,
      "snn_snia_vs_nonia" -> snn(8.0),
      "snn_sn_vs_all" -> snn(4.0),
      "mulens" -> when(col("candidate.ndethist") >= 3 && allPositive,
        sigmoid(snr / lit(100.0)) - lit(0.5)).otherwise(lit(0.0)),
      // kilonova (ztf/science.py:312-321): fast + new
      "rf_kn_vs_nonkn" -> when(col("cdsxmatch") === "Unknown" &&
        col("candidate.jd") - col("candidate.jdstarthist") < lit(20.0),
        sigmoid(abs(magRate) * 10.0) - lit(0.5)).otherwise(lit(0.0)),
      // anomaly stand-in (ztf/science.py:337-345): magnitude dispersion
      "anomaly_score" -> magStd,
      "lc_features_g" -> lcFeatures.getItem("1"),
      "lc_features_r" -> lcFeatures.getItem("2"),
      "rate" -> magRate,
      "sigma_rate" -> col("__m_sigmapsf.std") /
        sqrt(greatest(size(col("csigmapsf")).cast("double"), lit(1.0))),
      // from_upper: the MOST RECENT HISTORY entry was an upper limit; the
      // last element is the current detection, so probe index -2
      // (guarded: a first detection has no history entry to probe)
      "from_upper" -> when(size(col("cmagpsf")) >= 2,
        try_element_at(col("cmagpsf"), lit(-2)).isNull).otherwise(lit(false)),
      // superluminous SN (ztf/science.py:425-431), gated on is_transient
      "slsn_score" -> when(col("is_transient"),
        sigmoid(lit(22.0) - magMean) - lit(0.5)).otherwise(lit(0.0)),
      "t2" -> map(t2Classes.zip(exps).flatMap { case (k, e) =>
        Seq(lit(k), (e / z).cast("float"))
      }: _*),
      "classification" ->
        AlertFunctions.classify(rfSnia, col("nalerthist") - 1))
    // the output columns in order; the rest pass through, the
    // temporaries are dropped
    folds.select((df.columns.toSeq ++ outputColumns).map(c =>
      scores.get(c).fold(col(s"`$c`"))(_.as(c))): _*)
  }
}
