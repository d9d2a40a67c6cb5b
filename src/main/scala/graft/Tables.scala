package graft

import scala.collection.concurrent.TrieMap
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A named query over the driver's parquet tables, with an optional ANSI-SQL
  * oracle (runnable by DuckDB over the same tables). Queries without an
  * oracle get the driver's weaker rows-only check.
  * The companion's constructors wrap `fn` so that it installs the
  * [[GraftExtensions]] catalog on its session before it builds the plan.
  */
final case class GraftQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object GraftQuery {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, installing(fn), Some(oracle))
  def noOracle(name: String)(
      fn: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, installing(fn), None)

  private def installing(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (s, d) =>
    GraftExtensions.install(s)
    fn(s, d)
  }
}

/** Loaders for the parquet tables described in TESTDATA.md.
  *
  * Schema contract: [[schemaOf]] infers a table's schema (a one-task
  * footer job) once per session (held weakly), path, listing (each leaf
  * file's path, length and mtime, from a recursive Hadoop `listStatus`,
  * no job)
  * and set `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` confs,
  * so a table rewritten in place or a reader conf flipped (as [[events]]
  * does) is re-inferred; reads pass it to `spark.read.schema` and start
  * no job. Each read is a fresh relation with fresh attribute ids
  * (self-joins work). Not an [[Artifacts]] entry: release keeps it.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[Any, StructType]]())

  /** The parquet schema at `path`, cached per the object doc's contract. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // listStatus, not listFiles: a LocatedFileStatus reads each file's
    // permissions, which the local filesystem without its native library
    // does by forking `ls -ld`
    def leaves(f: FileStatus): Iterator[FileStatus] =
      if (f.isDirectory) fs.listStatus(f.getPath).iterator.flatMap(leaves)
      else Iterator.single(f)
    val listing = leaves(fs.getFileStatus(p))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    schemas.synchronized(schemas.computeIfAbsent(spark, _ => TrieMap.empty))
      .getOrElseUpdate((path, listing, confs), spark.read.parquet(path).schema)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Normalize the events `ts` column to a UTC TimestampType (µs) across
    * the encodings the reader surfaces: TIMESTAMP(NANOS) under
    * `spark.sql.legacy.parquet.nanosAsLong=true` is raw nano longs
    * (→ `timestamp_micros(ts div 1000)`, the same ns→µs floor DuckDB
    * applies; Spark 4.1.2 rejects NANOS without the conf), and the
    * fixture tables' TIMESTAMP(MICROS, not UTC-adjusted) is
    * TIMESTAMP_NTZ, which in a UTC session casts 1:1 to TimestampType.
    * Dispatching on the OBSERVED type keeps both correct with one path.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case t => throw new IllegalStateException(
        s"unexpected events.ts type from parquet reader: $t")
    }
  }

  /** events.parquet's `ts` through [[normalizeEventTs]]. The legacy conf
    * is set first so a TIMESTAMP(NANOS) `ts` reads as nano longs.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
