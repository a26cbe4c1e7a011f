package graft.queries

import org.apache.spark.sql.functions._

import graft.alerts.Crossmatch
import graft.core.{QueryDef, QueryPack}
import graft.core.Tables.t
import graft.functions.SpatialFunctions

/** Spatial operators (J2/X12) on a deterministic pseudo-sky derived
  * from the driver tables by integer arithmetic (identical in both
  * engines): customers become alert positions, nations become a small
  * catalog.
  *
  * q42's oracle is the brute-force cone search with the same haversine
  * formula — legitimate because CrossmatchSpec proves the healpix-
  * bucketed join EQUALS brute force; the oracle then certifies the
  * whole spatial path value-for-value.
  */
object Spatial extends QueryPack {

  private def pseudoRa(key: org.apache.spark.sql.Column, mult: Int) =
    (key * mult % 36000).cast("double") / 100.0

  private def pseudoDec(key: org.apache.spark.sql.Column, mult: Int) =
    (key * mult % 17000).cast("double") / 100.0 - 85.0

  def defs: Seq[QueryDef] = Seq(
    // Oracle-parity note: the in-radius decision (haversine sep <= 5°)
    // runs through sin/cos/asin, which are ~1-ulp libm functions, NOT
    // bit-pinned cross-engine like the rest of the oracle suite. The
    // compare is safe because the 0.01° pseudo-grid quantizes pairwise
    // separations — none lands within ~1e-10° of the cutoff (verified
    // against the fixture domain) — so a 1-ulp trig difference cannot
    // flip a membership. A continuous-coordinate oracle would need a
    // guard band instead.
    QueryDef(
      "q42_crossmatch_cone",
      (s, d) => {
        val alerts = t(s, d, "customer").select(
          col("c_custkey").as("id"),
          pseudoRa(col("c_custkey"), 997).as("ra"),
          pseudoDec(col("c_custkey"), 613).as("dec"))
        val catalog = t(s, d, "nation").select(
          col("n_name").as("cat_name"),
          pseudoRa(col("n_nationkey"), 1493).as("cat_ra"),
          pseudoDec(col("n_nationkey"), 761).as("cat_dec"))
        Crossmatch.crossmatch(alerts, col("ra"), col("dec"), catalog, 5.0)
          .select("id", "cat_name")
      },
      Some("""
        WITH alerts AS (
          SELECT c_custkey AS id,
            (c_custkey * 997 % 36000)::DOUBLE / 100.0 AS ra,
            (c_custkey * 613 % 17000)::DOUBLE / 100.0 - 85.0 AS dec
          FROM customer),
        cat AS (
          SELECT n_name AS cat_name,
            (n_nationkey * 1493 % 36000)::DOUBLE / 100.0 AS cat_ra,
            (n_nationkey * 761 % 17000)::DOUBLE / 100.0 - 85.0 AS cat_dec
          FROM nation)
        SELECT id, cat_name
        FROM alerts, cat
        WHERE degrees(2 * asin(sqrt(
            pow(sin(radians(cat_dec - dec) / 2), 2)
            + cos(radians(dec)) * cos(radians(cat_dec))
              * pow(sin(radians(cat_ra - ra) / 2), 2)))) <= 5.0""")),

    // ---- property-map crossmatch (the mangrove shape): every alert
    // keeps the NEAREST in-radius catalog row's properties, surfaced
    // from the map<string,string> column via getItem so DuckDB can
    // check them value-for-value (nearest = min-separation window; the
    // 25-entry pseudo-catalog has no near-ties, so the ordering is
    // engine-stable). Certifies NearestCatalogMap end to end. ----
    QueryDef(
      "q70_crossmatch_props",
      (s, d) => {
        val alerts = t(s, d, "customer").select(
          col("c_custkey").as("id"),
          pseudoRa(col("c_custkey"), 997).as("ra"),
          pseudoDec(col("c_custkey"), 613).as("dec"))
        val catalog = t(s, d, "nation").select(
          col("n_name"),
          col("n_regionkey"),
          pseudoRa(col("n_nationkey"), 1493).as("cat_ra"),
          pseudoDec(col("n_nationkey"), 761).as("cat_dec"))
        alerts
          .withColumn("m", Crossmatch.nearestPropsExpr(
            col("ra"), col("dec"), catalog, 5.0,
            Seq("n_name", "n_regionkey")))
          .select(
            col("id"),
            col("m").getItem("n_name").as("near_name"),
            col("m").getItem("n_regionkey").as("near_region"))
      },
      Some("""
        WITH alerts AS (
          SELECT c_custkey AS id,
            (c_custkey * 997 % 36000)::DOUBLE / 100.0 AS ra,
            (c_custkey * 613 % 17000)::DOUBLE / 100.0 - 85.0 AS dec
          FROM customer),
        cat AS (
          SELECT n_name, n_regionkey,
            (n_nationkey * 1493 % 36000)::DOUBLE / 100.0 AS cat_ra,
            (n_nationkey * 761 % 17000)::DOUBLE / 100.0 - 85.0 AS cat_dec
          FROM nation),
        pairs AS (
          SELECT a.id, c.n_name, c.n_regionkey,
            degrees(2 * asin(sqrt(
              pow(sin(radians(c.cat_dec - a.dec) / 2), 2)
              + cos(radians(a.dec)) * cos(radians(c.cat_dec))
                * pow(sin(radians(c.cat_ra - a.ra) / 2), 2)))) AS sep
          FROM alerts a, cat c),
        nearest AS (
          SELECT id, n_name, n_regionkey,
            row_number() OVER (PARTITION BY id ORDER BY sep ASC) AS rk
          FROM pairs WHERE sep <= 5.0)
        SELECT a.id,
          n.n_name AS near_name,
          CAST(n.n_regionkey AS VARCHAR) AS near_region
        FROM alerts a
        LEFT JOIN nearest n ON a.id = n.id AND n.rk = 1""")),

    // healpix pixel histogram of the pseudo-sky. DuckDB has no healpix:
    // the oracle transcribes Healpix.ang2pixNest at nside 8 (trunc where
    // Scala truncates with .toLong, integer // and & on the edge lines)
    QueryDef(
      "q43_healpix_hist",
      (s, d) =>
        t(s, d, "customer")
          .select(
            SpatialFunctions.ang2pix(
              pseudoRa(col("c_custkey"), 997),
              pseudoDec(col("c_custkey"), 613), 8).as("pixel"))
          .groupBy("pixel")
          .agg(count(lit(1)).as("n")),
      Some("""
        WITH sky AS (
          SELECT sin(radians((c_custkey * 613 % 17000)::DOUBLE / 100.0 - 85.0)) AS z,
            fmod(2.0 * radians(fmod((c_custkey * 997 % 36000)::DOUBLE / 100.0, 360.0))
              / pi(), 4.0) AS tt
          FROM customer),
        eq AS (
          SELECT z, tt,
            CAST(trunc(8 * (0.5 + tt) - 8 * z * 0.75) AS BIGINT) AS jp,
            CAST(trunc(8 * (0.5 + tt) + 8 * z * 0.75) AS BIGINT) AS jm
          FROM sky WHERE abs(z) <= 2.0 / 3.0),
        eq_face AS (
          SELECT CASE WHEN jp // 8 = jm // 8 THEN ((jp // 8) & 3) + 4
                      WHEN jp // 8 < jm // 8 THEN (jp // 8) & 3
                      ELSE ((jm // 8) & 3) + 8 END AS face,
            jm & 7 AS ix, 8 - (jp & 7) - 1 AS iy
          FROM eq),
        polar AS (
          SELECT z, least(3, CAST(trunc(tt) AS BIGINT)) AS ntt,
            tt - least(3, CAST(trunc(tt) AS BIGINT)) AS tp,
            8 * sqrt(3.0 * (1.0 - abs(z))) AS tmp
          FROM sky WHERE abs(z) > 2.0 / 3.0),
        polar_face AS (
          SELECT z, ntt,
            least(CAST(trunc(tp * tmp) AS BIGINT), 7) AS jp,
            least(CAST(trunc((1.0 - tp) * tmp) AS BIGINT), 7) AS jm
          FROM polar),
        faces AS (
          SELECT face, ix, iy FROM eq_face
          UNION ALL
          SELECT CASE WHEN z >= 0 THEN ntt ELSE ntt + 8 END,
            CASE WHEN z >= 0 THEN 8 - jm - 1 ELSE jp END,
            CASE WHEN z >= 0 THEN 8 - jp - 1 ELSE jm END
          FROM polar_face)
        SELECT face * 64 + (ix & 1) + 2 * (iy & 1) + 2 * (ix & 2)
            + 4 * (iy & 2) + 4 * (ix & 4) + 8 * (iy & 4) AS pixel,
          count(*) AS n
        FROM faces GROUP BY 1""")))
}
