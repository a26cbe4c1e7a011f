package graft

import java.util.Locale
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExprId, Expression, HigherOrderFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.alerts.{AlertFunctions, AlertSchema, Crossmatch}
import graft.avro.AvroFunctions
import graft.core.PlanAudit
import graft.enrich.ScienceModules
import graft.jobs.Nightly

/** Reference-arity enrichment: ~20 science columns from 11 history
  * arrays + 9 crossmatches + the scorers, still a zero-exchange plan
  * that evaluates each fold once and equals the staged oracle below;
  * the expression crossmatch must agree with the join-based
  * [[Crossmatch.nearestLabel]] on planted positions.
  */
class ScienceModulesSpec extends SparkTestBase {

  private lazy val enriched = ScienceModules(AlertSchema.fixture(spark, 200))

  test("pipeline emits every reference-shaped output column") {
    val cols = enriched.columns.toSet
    for (c <- ScienceModules.outputColumns)
      assert(cols.contains(c), s"missing $c")
    // temporaries are dropped like the reference (expanded + ft_module)
    for (c <- ScienceModules.historyFields.map("c" + _) ++
        Seq("ft_module", "lc_features", "faint", "stationary"))
      assert(!cols.contains(c), s"temporary $c leaked")
  }

  test("enrichment stays a zero-exchange plan at full arity") {
    val audit = PlanAudit.summarize(enriched)
    assert(audit.shuffleExchanges === 0, s"enrichment must not shuffle: $audit")
    assert(audit.broadcastExchanges === 0, s"enrichment must not broadcast: $audit")
  }

  test("flat enrichment equals the staged oracle: schema, Avro schema, rows") {
    val alerts = AlertSchema.fixture(spark, 500)
    assert(alerts.filter(size(filter(col("prv_candidates"),
      x => x.getField("magpsf").isNull)) > 0).count() > 0,
      "fixture lost its upper limits")
    for ((input, what) <- Seq(
        alerts -> "fixture", AlertFunctions.qualityCuts(alerts) -> "quality-cut subset")) {
      val flat = ScienceModules(input)
      val oracle = ScienceModulesSpec.staged(input)
      assert(flat.schema === oracle.schema, s"$what: schema")
      assert(AvroFunctions.avroSchemaJson(flat.schema) ===
        AvroFunctions.avroSchemaJson(oracle.schema), s"$what: Avro schema")
      def json(df: DataFrame) = df.select(to_json(struct(col("*"))).as("j"))
      assert(json(flat).count() === json(oracle).count(), s"$what: row count")
      assert(json(flat).exceptAll(json(oracle)).count() === 0, s"$what: extra rows")
      assert(json(oracle).exceptAll(json(flat)).count() === 0, s"$what: missing rows")
    }
  }

  test("no higher-order function subtree is evaluated twice in the enrichment plan") {
    // a file source, as in raw2science: over the fixture's LocalRelation
    // the optimizer would fold the whole projection into a new relation
    val raw = java.nio.file.Files.createTempDirectory("graft_hof_").toString
    AlertSchema.fixture(spark, 50).write.mode("overwrite").parquet(raw)
    val plan = Nightly.enrich(spark.read.parquet(raw)).queryExecution.optimizedPlan
    val dups = ScienceModulesSpec.duplicatedHofs(plan)
    assert(ScienceModulesSpec.hofs(plan).nonEmpty, "the plan has no folds to check")
    assert(dups.isEmpty, s"folds written more than once:\n${dups.mkString("\n")}")
  }

  test("mangrove fixture formats numbers alike under a comma-decimal locale") {
    val expected = ScienceModules.fixtureGalaxyCatalog(spark, 20, 17L).collect().toSeq
    val saved = Locale.getDefault
    val german = try {
      Locale.setDefault(Locale.GERMANY)
      ScienceModules.fixtureGalaxyCatalog(spark, 20, 17L).collect().toSeq
    } finally Locale.setDefault(saved)
    assert(german === expected)
    german.foreach { r =>
      assert(r.getAs[String]("lum_dist").matches("""\d+\.\d{2}"""), r)
      assert(r.getAs[String]("ang_dist").matches("""\d+\.\d{3}"""), r)
    }
  }

  test("expression crossmatch labels planted positions like the join form") {
    import spark.implicits._
    val catalog = Seq(
      ("RRLyr", 10.0, 10.0),
      ("QSO", 200.0, -45.0),
      ("Star", 10.0005, 10.0005) // ~2.3 arcsec from the first entry
    ).toDF("cat_name", "cat_ra", "cat_dec")
    val probes = Seq(
      (1L, 10.0, 10.0),      // exact hit → RRLyr (nearer than Star)
      (2L, 200.0001, -45.0), // ~0.25 arcsec → QSO
      (3L, 100.0, 50.0)      // nothing near → Unknown
    ).toDF("id", "ra", "dec")
    val viaExpr = probes.withColumn("label",
      Crossmatch.nearestLabelExpr(col("ra"), col("dec"), catalog, 1.5 / 3600.0))
      .select("id", "label").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaExpr === Map(1L -> "RRLyr", 2L -> "QSO", 3L -> "Unknown"))
    val viaJoin = Crossmatch.nearestLabel(
      probes, col("ra"), col("dec"), col("id"), catalog, 1.5 / 3600.0, "label")
      .select("id", "label").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaJoin === viaExpr)
  }

  test("roid levels follow the reference gating") {
    val byLevel = enriched
      .groupBy("roid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // known-SSO alerts (ssdistnr in [0,5)) must be flagged 3
    val sso = enriched.filter(
      col("candidate.ssdistnr") >= 0 && col("candidate.ssdistnr") < 5)
    assert(sso.filter(col("roid") =!= 3).count() === 0)
    assert(byLevel.getOrElse(3, 0L) === sso.count())
    assert(byLevel.keySet.subsetOf(Set(0, 1, 2, 3)))
    // asteroid-flagged alerts are excluded from is_transient (ref gate)
    assert(enriched.filter(col("roid") === 3 && col("is_transient")).count() === 0)
  }

  test("per-band features split by fid and count the right detections") {
    val rows = enriched
      .select(col("lc_features_g.n"), col("lc_features_r.n"), col("nalerthist"))
      .collect()
    // per alert: n_g + n_r <= nalerthist (fid-3 detections belong to no band)
    rows.foreach(r => assert(r.getLong(0) + r.getLong(1) <= r.getLong(2)))
    // and the bands are not all empty across the batch
    assert(rows.map(_.getLong(0)).sum > 0)
    assert(rows.map(_.getLong(1)).sum > 0)
  }

  test("fast-transient expansion yields flat columns, not the struct") {
    for (c <- ScienceModules.fastTransientFields)
      assert(enriched.columns.contains(c), s"missing expanded $c")
    assert(!enriched.columns.contains("ft_module"))
  }

  test("scores and gates are never NULL despite upper-limit history") {
    // the fixture plants NULL-magpsf upper limits in ~30% of history
    // entries; every fold must mask them (ADVICE r3: an unmasked
    // acc+NULL nulls rf_snia_vs_nonia and cascades into classification)
    for (c <- Seq("rf_snia_vs_nonia", "snn_snia_vs_nonia", "mulens",
        "rf_kn_vs_nonkn", "mag_rate", "anomaly_score", "slsn_score",
        "is_transient", "classification"))
      assert(enriched.filter(col(c).isNull).count() === 0, s"$c has NULLs")
    // and specifically on alerts that DO carry an upper limit in history
    val upperAlerts = enriched.filter(
      size(filter(col("prv_candidates"),
        x => x.getField("magpsf").isNull)) > 0)
    assert(upperAlerts.count() > 0, "fixture lost its upper limits")
    assert(upperAlerts.filter(col("rf_snia_vs_nonia").isNull).count() === 0)
  }

  test("mangrove is map<string,string> with the reference key set on every row") {
    import org.apache.spark.sql.types.{MapType, StringType}
    assert(enriched.schema("mangrove").dataType ===
      MapType(StringType, StringType, valueContainsNull = true))
    // stable schema: matched or not, every row carries the full key set
    // in catalog column order (the reference's None-valued dict shape)
    val keyRows = enriched
      .select(map_keys(col("mangrove")).as("k")).distinct().collect()
    assert(keyRows.length === 1)
    assert(keyRows.head.getSeq[String](0) === ScienceModules.mangroveKeys)
  }

  test("property-map crossmatch attaches the nearest row's props") {
    import spark.implicits._
    val catalog = Seq(
      ("PGC1", "100.0", 10.0, 10.0),
      ("PGC2", "250.0", 200.0, -45.0),
      ("PGC3", "17.5", 10.003, 10.003) // ~15 arcsec from PGC1
    ).toDF("HyperLEDA_name", "lum_dist", "cat_ra", "cat_dec")
    val probes = Seq(
      (1L, 10.0, 10.0),     // nearest = PGC1
      (2L, 10.0029, 10.003), // nearest = PGC3
      (3L, 100.0, 50.0)     // unmatched → all-null-valued map
    ).toDF("id", "ra", "dec")
    val got = probes.withColumn("m",
      Crossmatch.nearestPropsExpr(col("ra"), col("dec"), catalog,
        60.0 / 3600.0, Seq("HyperLEDA_name", "lum_dist")))
      .select(col("id"), col("m").getItem("HyperLEDA_name"),
        col("m").getItem("lum_dist"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(1L) === (("PGC1", "100.0")))
    assert(got(2L) === (("PGC3", "17.5")))
    assert(got(3L) === ((null, null)))

    // null coordinates (position-less alert) must yield the stable
    // all-null-valued map, not a null column or an exception
    val nullPos = probes.select(col("id"),
        when(col("id") === 1L, col("ra")).as("ra"),
        when(col("id") === 1L, col("dec")).as("dec"))
      .withColumn("m", Crossmatch.nearestPropsExpr(
        col("ra"), col("dec"), catalog, 60.0 / 3600.0,
        Seq("HyperLEDA_name", "lum_dist")))
    assert(nullPos.filter(col("m").isNull).count() === 0)
    val nm = nullPos.filter(col("id") === 3L)
      .select(map_keys(col("m")), col("m").getItem("HyperLEDA_name"))
      .collect()(0)
    assert(nm.getSeq[String](0) === Seq("HyperLEDA_name", "lum_dist"))
    assert(nm.isNullAt(1))
  }

  test("t2 is map<string,float> over a stable vocabulary, a probability simplex") {
    import org.apache.spark.sql.types.{FloatType, MapType, StringType}
    assert(enriched.schema("t2").dataType ===
      MapType(StringType, FloatType, valueContainsNull = true))
    val rows = enriched.select(
      map_keys(col("t2")),
      aggregate(map_values(col("t2")), lit(0.0), (a, x) => a + x)).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) === ScienceModules.t2Classes)
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-5, s"t2 scores must sum to 1: $r")
    }
  }

  test("from_upper flags that the latest history entry was an upper limit") {
    val rows = enriched.select(
      col("from_upper"),
      size(col("prv_candidates")) > 0 &&
        element_at(col("prv_candidates"), -1).getField("magpsf").isNull)
      .collect()
    rows.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1)))
    assert(rows.exists(_.getBoolean(0)), "fixture has no from_upper=true case")
    assert(rows.exists(!_.getBoolean(0)))
  }
}

/** A probe for folds written twice in a plan, and the staged reference
  * form of [[ScienceModules]] ([[staged]]): one `withColumn` per module
  * output, each module rebuilding the folds it reads. The staged form is
  * the executable specification the flat form is checked against.
  */
object ScienceModulesSpec {

  /** HigherOrderFunction subtrees of every expression in `plan`. */
  def hofs(plan: LogicalPlan): Seq[Expression] =
    plan.flatMap(_.expressions.flatMap(_.collect { case h: HigherOrderFunction => h }))

  private val sharedValue = new AtomicReference[Any]()

  /** `e` with its lambda variables renumbered by first appearance. Each
    * copy of a lambda carries its own variable ids, which
    * `canonicalized` keeps, so copies compare equal only after this.
    */
  private def renumberLambdas(e: Expression): Expression = {
    val ids = scala.collection.mutable.LinkedHashMap.empty[ExprId, Long]
    e.foreach {
      case v: NamedLambdaVariable => ids.getOrElseUpdate(v.exprId, ids.size.toLong)
      case _ =>
    }
    e.transform { case v: NamedLambdaVariable =>
      NamedLambdaVariable("x", v.dataType, v.nullable, ExprId(ids(v.exprId)), sharedValue)
    }.canonicalized
  }

  /** The SQL of each HigherOrderFunction subtree that occurs more than
    * once in `plan`, up to lambda-variable numbering.
    */
  def duplicatedHofs(plan: LogicalPlan): Seq[String] =
    hofs(plan).groupBy(renumberLambdas).values
      .collect { case copies if copies.size > 1 => s"${copies.size}x ${copies.head.sql}" }
      .toSeq

  /** A pipeline stage: appends enrichment columns, never shuffles. */
  trait Stage extends Serializable {
    def transform(df: DataFrame): DataFrame
  }

  /** A single-column scorer: named output from input columns. */
  trait Scorer extends Stage {
    def name: String
    def apply(df: DataFrame): Column
    final def transform(df: DataFrame): DataFrame =
      df.withColumn(name, apply(df))
  }

  /** One `withColumn` and one schema probe per history field. */
  def concatColsByField(df: DataFrame, fields: Seq[String]): DataFrame =
    fields.foldLeft(df) { (d, f) =>
      val hist = coalesce(
        col(s"prv_candidates.$f"),
        array().cast(d.select(col(s"prv_candidates.$f")).schema.head.dataType))
      d.withColumn("c" + f, concat(hist, array(col(s"candidate.$f"))))
    }

  private def validOnly(a: Column): Column = filter(a, x => x.isNotNull)

  private def meanArr(raw: Column): Column = {
    val a = validOnly(raw)
    when(size(a) > 0,
      aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double")) / size(a))
      .otherwise(lit(0.0))
  }

  private def stdArr(raw: Column): Column = {
    val a = validOnly(raw)
    val n = size(a)
    val mean = meanArr(a)
    val ssq = aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")) / n
    when(n >= 2, sqrt(greatest(ssq - mean * mean, lit(0.0)))).otherwise(lit(0.0))
  }

  private def sigmoid(x: Column): Column = lit(1.0) / (lit(1.0) + exp(-x))

  object MagnitudeRate extends Scorer {
    val name = "mag_rate"
    def apply(df: DataFrame): Column = {
      val pairs = filter(
        arrays_zip(col("cmagpsf"), col("cjd")),
        x => x.getField("cmagpsf").isNotNull)
      val dm = element_at(pairs, -1).getField("cmagpsf") -
        element_at(pairs, 1).getField("cmagpsf")
      val dt = element_at(pairs, -1).getField("cjd") -
        element_at(pairs, 1).getField("cjd")
      when(size(pairs) >= 2 && dt > 0, dm.cast("double") / dt)
        .otherwise(lit(0.0))
    }
  }

  object NAlertHist extends Scorer {
    val name = "nalerthist"
    def apply(df: DataFrame): Column =
      size(validOnly(col("cmagpsf"))).cast("long")
  }

  object Roid extends Scorer {
    val name = "roid"
    def apply(df: DataFrame): Column = {
      val nearSso = col("candidate.ssdistnr").isNotNull &&
        col("candidate.ssdistnr") >= 0 && col("candidate.ssdistnr") < 5
      val starUnder =
        col("candidate.sgscore1") > 0.76 && col("candidate.distpsnr1") < 2
      val shortHist = col("candidate.ndethist") <= 2 && size(col("cjd")) <= 2
      when(nearSso, 3)
        .when(shortHist && !starUnder, 2)
        .when(col("candidate.ndethist") <= 2, 1)
        .otherwise(0)
    }
  }

  object RfSnia extends Scorer {
    val name = "rf_snia_vs_nonia"
    def apply(df: DataFrame): Column =
      when(col("cdsxmatch") =!= "Unknown" || col("roid") === 3, lit(0.0))
        .otherwise(AlertPipelineSpec.deterministicScore(col("cmagpsf")))
  }

  final case class SnnScore(name: String, gain: Double) extends Scorer {
    def apply(df: DataFrame): Column =
      when(col("roid") === 3, lit(0.0))
        .otherwise(sigmoid(lit(-gain) * MagnitudeRate(df)))
  }

  object Mulens extends Scorer {
    val name = "mulens"
    def apply(df: DataFrame): Column = {
      val allPositive =
        size(filter(col("cisdiffpos"), x => x === "t")) === size(col("cisdiffpos"))
      val snr = meanArr(col("cmagnr")) / greatest(meanArr(col("csigmagnr")), lit(1e-6))
      when(col("candidate.ndethist") >= 3 && allPositive,
        sigmoid(snr / lit(100.0)) - lit(0.5)).otherwise(lit(0.0))
    }
  }

  object KnScore extends Scorer {
    val name = "rf_kn_vs_nonkn"
    def apply(df: DataFrame): Column = {
      val newSource =
        col("candidate.jd") - col("candidate.jdstarthist") < lit(20.0)
      when(col("cdsxmatch") === "Unknown" && newSource,
        sigmoid(abs(MagnitudeRate(df)) * 10.0) - lit(0.5)).otherwise(lit(0.0))
    }
  }

  object AnomalyScore extends Scorer {
    val name = "anomaly_score"
    def apply(df: DataFrame): Column = stdArr(col("cmagpsf"))
  }

  object SlsnScore extends Scorer {
    val name = "slsn_score"
    def apply(df: DataFrame): Column =
      when(col("is_transient"),
        sigmoid(lit(22.0) - meanArr(col("cmagpsf"))) - lit(0.5))
        .otherwise(lit(0.0))
  }

  object LcFeatures extends Stage {
    private def bandFeatures(fid: Int): Column = {
      val mags = org.apache.spark.sql.functions.transform(
        filter(arrays_zip(col("cmagpsf"), col("cfid")),
          x => x.getField("cfid") === fid && x.getField("cmagpsf").isNotNull),
        x => x.getField("cmagpsf").cast("double"))
      struct(
        size(mags).cast("long").as("n"),
        when(size(mags) > 0, meanArr(mags)).otherwise(lit(0.0)).as("mean"),
        stdArr(mags).as("std"),
        when(size(mags) > 0, array_max(mags) - array_min(mags))
          .otherwise(lit(0.0)).as("amplitude"))
    }
    def transform(df: DataFrame): DataFrame =
      df.withColumn("lc_features",
        map(lit("1"), bandFeatures(1), lit("2"), bandFeatures(2)))
        .withColumn("lc_features_g", col("lc_features").getItem("1"))
        .withColumn("lc_features_r", col("lc_features").getItem("2"))
        .drop("lc_features")
  }

  object FastTransient extends Stage {
    def transform(df: DataFrame): DataFrame = {
      val rate = MagnitudeRate(df)
      val sigma = stdArr(col("csigmapsf")) /
        sqrt(greatest(size(col("csigmapsf")).cast("double"), lit(1.0)))
      val fromUpper =
        when(size(col("cmagpsf")) >= 2,
          try_element_at(col("cmagpsf"), lit(-2)).isNull)
          .otherwise(lit(false))
      val packed = df.withColumn("ft_module",
        struct(rate.as("rate"), sigma.as("sigma_rate"), fromUpper.as("from_upper")))
      Seq("rate", "sigma_rate", "from_upper")
        .foldLeft(packed)((d, k) => d.withColumn(k, col(s"ft_module.$k")))
        .drop("ft_module")
    }
  }

  object TransientFlags extends Stage {
    private val flags = Seq(
      "faint", "positivesubtraction", "real", "pointunderneath",
      "brightstar", "variablesource", "stationary")
    def transform(df: DataFrame): DataFrame =
      df.withColumn("faint", col("candidate.magpsf") > 19.5)
        .withColumn("positivesubtraction", col("candidate.isdiffpos") === "t")
        .withColumn("real", col("candidate.drb") >= 0.5)
        .withColumn("pointunderneath",
          col("candidate.sgscore1") > 0.76 && col("candidate.distpsnr1") < 2)
        .withColumn("brightstar",
          col("candidate.distpsnr1") < 2 && col("candidate.magnr") < 15)
        .withColumn("variablesource", col("cdsxmatch") =!= "Unknown")
        .withColumn("stationary",
          coalesce(col("candidate.ssdistnr") < 0, lit(true)))
        .withColumn("is_transient",
          !col("faint") && col("positivesubtraction") && col("real") &&
            !col("pointunderneath") && !col("brightstar") &&
            !col("variablesource") && col("stationary") && col("roid") === 0)
        .drop(flags: _*)
  }

  final case class Xmatch(labelName: String, catalog: DataFrame,
      radiusArcsec: Double, default: String = "Unknown") extends Stage {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(labelName,
        Crossmatch.nearestLabelExpr(
          col("candidate.ra"), col("candidate.dec"), catalog,
          radiusArcsec / 3600.0, default))
  }

  final case class XmatchProps(colName: String, catalog: DataFrame,
      radiusArcsec: Double, propCols: Seq[String]) extends Stage {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(colName,
        Crossmatch.nearestPropsExpr(
          col("candidate.ra"), col("candidate.dec"), catalog,
          radiusArcsec / 3600.0, propCols))
  }

  object T2Score extends Stage {
    val classes: Seq[String] = Seq("SNIa", "SNII", "KN", "AGN", "RRLyr")
    def transform(df: DataFrame): DataFrame = {
      val logits: Seq[Column] = Seq(
        -MagnitudeRate(df) * 8.0,
        -MagnitudeRate(df) * 4.0,
        abs(MagnitudeRate(df)) * 10.0 - lit(2.0),
        stdArr(col("cmagpsf")) * 2.0,
        when(col("cdsxmatch") === "RRLyr", 4.0).otherwise(-2.0))
      val exps = logits.map(l => exp(least(greatest(l, lit(-20.0)), lit(20.0))))
      val z = exps.reduce(_ + _)
      val entries = classes.zip(exps).flatMap { case (k, e) =>
        Seq(lit(k), (e / z).cast("float"))
      }
      df.withColumn("t2", map(entries: _*))
    }
  }

  def xmatches(spark: SparkSession): Seq[Stage] = {
    import ScienceModules.{fixtureCatalog, fixtureGalaxyCatalog, mangroveKeys}
    Seq(
      Xmatch("cdsxmatch",
        fixtureCatalog(spark, Seq("Star", "RRLyr", "QSO", "AGN", "EB*"), 200, 11L),
        radiusArcsec = 1.5),
      Xmatch("gcvs",
        fixtureCatalog(spark, Seq("CEP", "MIRA", "SR"), 120, 12L),
        radiusArcsec = 1.5),
      Xmatch("vsx",
        fixtureCatalog(spark, Seq("ROT", "DSCT", "EA"), 120, 13L),
        radiusArcsec = 1.5),
      Xmatch("spicy_class",
        fixtureCatalog(spark, Seq("YSO", "FlatSpec", "ClassII"), 80, 15L),
        radiusArcsec = 1.2),
      Xmatch("x3hsp",
        fixtureCatalog(spark, (1 to 60).map(i => f"3HSPJ$i%06d"), 60, 16L),
        radiusArcsec = 30.0, default = ""),
      Xmatch("x4lac",
        fixtureCatalog(spark, (1 to 60).map(i => f"4LACJ$i%06d"), 60, 18L),
        radiusArcsec = 30.0, default = ""),
      Xmatch("gaia_class",
        fixtureCatalog(spark,
          Seq("RR", "CEP", "DSCT|GDOR|SXPHE", "ECL", "LPV"), 150, 19L),
        radiusArcsec = 1.5),
      Xmatch("tns",
        fixtureCatalog(spark,
          (1 to 40).map(i => s"SN 2024${('a' + i % 26).toChar}$i"), 40, 14L),
        radiusArcsec = 1.5, default = ""),
      XmatchProps("mangrove", fixtureGalaxyCatalog(spark, 150, 17L),
        radiusArcsec = 60.0, propCols = mangroveKeys))
  }

  val scorers: Seq[Scorer] = Seq(
    Roid,
    RfSnia,
    SnnScore("snn_snia_vs_nonia", 8.0),
    SnnScore("snn_sn_vs_all", 4.0),
    Mulens,
    NAlertHist,
    KnScore,
    MagnitudeRate,
    AnomalyScore)

  /** concat 11 histories → crossmatches → scorers → per-band features →
    * fast-transient expand → transient gate → SLSN → t2 →
    * classification → drop temporaries.
    */
  def staged(df: DataFrame): DataFrame = {
    val withHist = concatColsByField(df, ScienceModules.historyFields)
    val stages: Seq[Stage] = xmatches(df.sparkSession) ++ scorers ++
      Seq(LcFeatures, FastTransient, TransientFlags, SlsnScore, T2Score)
    stages.foldLeft(withHist)((d, s) => s.transform(d))
      .withColumn("classification",
        AlertFunctions.classify(col("rf_snia_vs_nonia"), col("nalerthist") - 1))
      .drop(ScienceModules.historyFields.map("c" + _): _*)
  }
}
