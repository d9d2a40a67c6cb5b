package graft.operators

import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}
import graft.decode.Decoder
import graft.functions.RegexFunctions.captureGroups
import graft.schema.{AllocRegistry, StandardAssetID}

/** Reference helper surfaces registered as oracle-checked queries:
  * all-capture-groups regex extraction (A12) and the StandardID
  * asset-class vocabulary lookup (A16).
  */
object Extraction {

  private val NamePat = "^(\\w+) (\\w+)"
  private val TypePat = "(PROMO|ECONOMY) (\\w+)"
  private val BrandPat = "brand#(\\d)(\\d)"

  /** q34: all-groups extraction over `part` — nested/nil-on-no-match
    * semantics plus the case-insensitive option
    * (reference/Tests/Helpers/StringCaptureGroupTests.swift:23-66).
    */
  private val q34 = GraftQuery(
    "q34_regex_groups",
    s"""SELECT p_partkey,
       |  CASE WHEN regexp_matches(p_name, '$NamePat') THEN regexp_extract(p_name, '$NamePat', 1) END AS n1,
       |  CASE WHEN regexp_matches(p_name, '$NamePat') THEN regexp_extract(p_name, '$NamePat', 2) END AS n2,
       |  CASE WHEN regexp_matches(p_name, '$NamePat')
       |       THEN regexp_extract(p_name, '$NamePat', 1) || '|' || regexp_extract(p_name, '$NamePat', 2) END AS name_joined,
       |  CASE WHEN regexp_matches(p_type, '$TypePat')
       |       THEN regexp_extract(p_type, '$TypePat', 1) || '|' || regexp_extract(p_type, '$TypePat', 2) END AS promo_joined,
       |  CASE WHEN regexp_matches(p_brand, '(?i)$BrandPat')
       |       THEN regexp_extract(p_brand, '(?i)$BrandPat', 1) || '|' || regexp_extract(p_brand, '(?i)$BrandPat', 2) END AS brand_ci
       |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
    val p = Tables.part(s, d)
    val nameGroups = captureGroups(col("p_name"), NamePat)
    val typeGroups = captureGroups(col("p_type"), TypePat)
    val brandGroups = captureGroups(col("p_brand"), BrandPat, caseInsensitive = true)
    p.select(col("p_partkey"),
        element_at(nameGroups, 1).as("n1"),
        element_at(nameGroups, 2).as("n2"),
        array_join(nameGroups, "|").as("name_joined"),
        array_join(typeGroups, "|").as("promo_joined"),
        array_join(brandGroups, "|").as("brand_ci"))
      .orderBy("p_partkey")
  }

  private val spec = AllocRegistry.asset
  private val FixturePath = "/root/repo/fixtures/masset.csv"

  /** q35: StandardID vocabulary validation (A16,
    * reference/Sources/Model/MAsset+StandardID.swift:23-59) over the
    * `asset` entity decode — registry dispatch on a second entity plus a
    * broadcast-sized canonical lookup via `isin`.
    */
  private val q35 = GraftQuery(
    "q35_standard_id",
    s"""WITH raw AS (SELECT * FROM ${Decoder.oracleRawCsv(spec, FixturePath)}),
       |tagged AS (SELECT *, ${Decoder.oracleReasonSql(spec)} AS reason FROM raw)
       |SELECT assetID, title, parentAssetID,
       |  assetID IN (${StandardAssetID.values.map(v => s"'$v'").mkString(", ")}) AS is_standard
       |FROM tagged WHERE reason IS NULL
       |ORDER BY assetID""".stripMargin) { (s, _) =>
    Decoder.decode(Decoder.readRaw(s, FixturePath, spec), spec).good
      .withColumn("is_standard", col("assetID").isin(StandardAssetID.values: _*))
      .orderBy("assetID")
  }

  /** q176: asset-tree ROOT resolution — the hierarchy walk behind the
    * portfolio rollup SURVEY §2/B4 calls out ("assets are a tree" via
    * `parentAssetID`, reference/Sources/Model/MAsset+StandardID.swift +
    * the AllocData MAsset schema): each decoded asset is resolved to the
    * top of its parent chain, with depth. Semantics pinned by the gate:
    * the walk follows `parentAssetID` only while it names another GOOD
    * decoded row — a nil parent (Bond), a dangling pointer (Gold→Cmdty,
    * REIT→RE), and a reject-filtered row all terminate the chain, so
    * the engine and the oracle's recursive closure agree on every edge
    * case in the fixture. Engine shape: the chain is unrolled as K
    * broadcast self-joins (K=4 ≥ any sane taxonomy depth — recursion
    * depth here is a SCHEMA property, not a data-size property, which
    * is why unrolling beats a fixpoint loop for dimension hierarchies);
    * each step is a dimension-sized broadcast, nothing shuffles.
    */
  private val q176 = GraftQuery(
    "q176_asset_tree_roots",
    s"""WITH RECURSIVE raw AS (SELECT * FROM ${Decoder.oracleRawCsv(spec, FixturePath)}),
       |tagged AS (SELECT *, ${Decoder.oracleReasonSql(spec)} AS reason FROM raw),
       |assets AS (
       |  SELECT assetID, parentAssetID FROM tagged WHERE reason IS NULL),
       |walk AS (
       |  SELECT assetID AS leaf, assetID AS cur, 0 AS depth FROM assets
       |  UNION ALL
       |  SELECT w.leaf, a2.assetID, w.depth + 1
       |  FROM walk w
       |  JOIN assets a1 ON a1.assetID = w.cur
       |  JOIN assets a2 ON a2.assetID = a1.parentAssetID),
       |deepest AS (SELECT leaf, max(depth) AS d FROM walk GROUP BY 1)
       |SELECT w.leaf AS assetID, w.cur AS root_id,
       |  CAST(w.depth AS BIGINT) AS depth
       |FROM walk w JOIN deepest m ON m.leaf = w.leaf AND m.d = w.depth
       |ORDER BY assetID""".stripMargin) { (s, _) =>
    val assets = Decoder.decode(Decoder.readRaw(s, FixturePath, spec), spec).good
      .select(col("assetID"), col("parentAssetID"))
    // parent edge exists only when the parent names a good row; the
    // decoded leaf carries no size estimate, so the dimension-sized side
    // is broadcast by hint
    val resolvable = assets.as("c")
      .join(broadcast(assets.as("p")),
        col("c.parentAssetID") === col("p.assetID"))
      .select(col("c.assetID").as("child"), col("p.assetID").as("parent"))
    val walk = (1 to 4).foldLeft(
      assets.select(col("assetID").as("leaf"), col("assetID").as("cur"),
        lit(0L).as("depth"))) { (acc, _) =>
      acc.join(broadcast(resolvable), col("cur") === col("child"), "left")
        .select(col("leaf"),
          coalesce(col("parent"), col("cur")).as("cur"),
          (col("depth") + when(col("parent").isNotNull, 1L).otherwise(0L))
            .as("depth"))
    }
    walk.select(col("leaf").as("assetID"), col("cur").as("root_id"),
        col("depth"))
      .orderBy("assetID")
  }

  val queries: Seq[GraftQuery] = Seq(q34, q35, q176)
}
