package graft.schema

import org.apache.spark.sql.types._

/** Schema registry for the seven AllocData entities — the Spark-native
  * equivalent of the reference's closed `AllocSchema` enum + per-entity
  * attribute tables (reference/Sources/Handlers/TransformHandler.swift:37-54;
  * attribute reflection at reference/Sources/Core/FINporter.swift:62,66).
  *
  * Each entity is a [[EntitySpec]]: an ordered list of fields with a kind
  * (string / double / boolean / date-enriched-to-timestamp), a required
  * flag (drives reject routing) and a key flag (entity identity). The
  * registry replaces the reference's compile-time switch with a data-driven
  * dispatch — `AllocRegistry.entities(name)` — so adding an entity is a
  * registry entry, not a new code path.
  */
sealed trait FieldKind
object FieldKind {
  /** passthrough string */
  case object Str extends FieldKind
  /** decimal number decoded to DoubleType (rejects on unparseable) */
  case object Dbl extends FieldKind
  /** true/false decoded to BooleanType (rejects on unparseable) */
  case object Bool extends FieldKind
  /** date-only source column, enriched with a default time-of-day + zone
    * into a UTC timestamp (reference/Sources/Core/FINporter.swift:45-47)
    */
  case object DateCol extends FieldKind
}

final case class FieldSpec(
    name: String,
    kind: FieldKind,
    required: Boolean,
    isKey: Boolean = false)

final case class EntitySpec(entity: String, fields: Seq[FieldSpec]) {
  /** All-string schema for the PERMISSIVE CSV read (raw side). */
  def rawSchema: StructType =
    StructType(fields.map(f => StructField(f.name, StringType, nullable = true)))
}

// Typed row models for Dataset[T] use (decoded timestamps carried as epoch
// millis so the case classes stay encoder-friendly and oracle-stable).
final case class MAccount(accountID: String, title: Option[String],
    isTaxable: Option[Boolean], canTrade: Option[Boolean],
    strategyID: Option[String])
final case class MAllocation(allocationStrategyID: String,
    allocationAssetID: String, targetPct: Option[Double],
    isLocked: Option[Boolean])
final case class MAsset(assetID: String, title: Option[String],
    parentAssetID: Option[String])
final case class MHolding(holdingAccountID: String, holdingSecurityID: String,
    holdingLotID: Option[String], shareCount: Option[Double],
    shareBasis: Option[Double], acquiredAt_ms: Option[Long])
final case class MSecurity(securityID: String, assetID: Option[String],
    sharePrice: Option[Double], updatedAt_ms: Option[Long],
    trackerID: Option[String])
final case class MStrategy(strategyID: String, title: Option[String])
final case class MTransaction(txnAction: String, txnTransactedAt_ms: Long,
    txnAccountID: String, txnSecurityID: Option[String],
    txnLotID: Option[String], txnShareCount: Double,
    txnSharePrice: Option[Double], realizedGainShort: Option[Double],
    realizedGainLong: Option[Double])

object AllocRegistry {
  import FieldKind._

  val account: EntitySpec = EntitySpec("account", Seq(
    FieldSpec("accountID", Str, required = true, isKey = true),
    FieldSpec("title", Str, required = false),
    FieldSpec("isTaxable", Bool, required = false),
    FieldSpec("canTrade", Bool, required = false),
    FieldSpec("strategyID", Str, required = false)))

  val allocation: EntitySpec = EntitySpec("allocation", Seq(
    FieldSpec("allocationStrategyID", Str, required = true, isKey = true),
    FieldSpec("allocationAssetID", Str, required = true, isKey = true),
    FieldSpec("targetPct", Dbl, required = false),
    FieldSpec("isLocked", Bool, required = false)))

  val asset: EntitySpec = EntitySpec("asset", Seq(
    FieldSpec("assetID", Str, required = true, isKey = true),
    FieldSpec("title", Str, required = false),
    FieldSpec("parentAssetID", Str, required = false)))

  val holding: EntitySpec = EntitySpec("holding", Seq(
    FieldSpec("holdingAccountID", Str, required = true, isKey = true),
    FieldSpec("holdingSecurityID", Str, required = true, isKey = true),
    FieldSpec("holdingLotID", Str, required = false, isKey = true),
    FieldSpec("shareCount", Dbl, required = false),
    FieldSpec("shareBasis", Dbl, required = false),
    FieldSpec("acquiredAt", DateCol, required = false)))

  val security: EntitySpec = EntitySpec("security", Seq(
    FieldSpec("securityID", Str, required = true, isKey = true),
    FieldSpec("assetID", Str, required = false),
    FieldSpec("sharePrice", Dbl, required = false),
    FieldSpec("updatedAt", DateCol, required = false),
    FieldSpec("trackerID", Str, required = false)))

  val strategy: EntitySpec = EntitySpec("strategy", Seq(
    FieldSpec("strategyID", Str, required = true, isKey = true),
    FieldSpec("title", Str, required = false)))

  val transaction: EntitySpec = EntitySpec("transaction", Seq(
    FieldSpec("txnAction", Str, required = true),
    FieldSpec("txnTransactedAt", DateCol, required = true),
    FieldSpec("txnAccountID", Str, required = true),
    FieldSpec("txnSecurityID", Str, required = false),
    FieldSpec("txnLotID", Str, required = false),
    FieldSpec("txnShareCount", Dbl, required = true),
    FieldSpec("txnSharePrice", Dbl, required = false),
    FieldSpec("realizedGainShort", Dbl, required = false),
    FieldSpec("realizedGainLong", Dbl, required = false)))

  /** The closed registry — dispatch replaces the reference's 7-way switch
    * (TransformHandler.swift:37-54). Unknown entity → FinError.NotImplemented
    * at the call site.
    */
  val entities: Map[String, EntitySpec] = Seq(
    account, allocation, asset, holding, security, strategy, transaction)
    .map(e => e.entity -> e).toMap
}

/** The 36-value canonical asset-class vocabulary
  * (reference/Sources/Model/MAsset+StandardID.swift:23-59) — shipped as a
  * built-in lookup usable as a broadcast dimension or an `isin` validator.
  */
object StandardAssetID {
  val values: Seq[String] = Seq(
    "Bond", "Cash", "Cmdty", "CorpBond", "EM", "EMBond", "Europe", "GlobRE",
    "Gold", "HYBond", "Intl", "IntlBond", "IntlGov", "IntlRE", "IntlSC",
    "IntlVal", "ITGov", "Japan", "LC", "LCGrow", "LCVal", "LTGov", "MC",
    "MCGrow", "MCVal", "Momentum", "Pacific", "RE", "REMort", "SC", "SCGrow",
    "SCVal", "STGov", "Tech", "TIPS", "Total")
  val set: Set[String] = values.toSet
}
