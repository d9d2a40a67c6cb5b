package graft

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

import graft.io.NioLocalFileSystem

/** The one graft session: [[GraftSession.apply]] builds the session of
  * every entry point (Bench, Verify, the CLI, PlanDump, GenScale, the
  * tests) and [[GraftSession.install]] gives any session what graft needs.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or the machine's processor count. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** The installed session on `master`: `shufflePartitions` shuffle
    * partitions, UTC, no UI, plus `confs` (or the active session, as
    * `getOrCreate` gives).
    */
  def apply(master: String = s"local[$cpus]", shufflePartitions: Int = cpus,
      confs: Map[String, String] = Map.empty): SparkSession =
    install(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(confs)
      .getOrCreate())

  /** `fs.file.impl` = [[graft.io.NioLocalFileSystem]], uncached: the
    * Hadoop confs under which `file:` writes fork no `chmod`.
    */
  val localFileSystemConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Gives `spark` what it lacks of the following; idempotent. It runs at
    * the end of [[apply]], in every [[GraftQuery]]'s `fn` before the plan
    * is built, and in the [[graft.io.DelimitedWriter]] sinks.
    *  - The [[GraftExtensions]] function catalog.
    *  - `fs.file.impl` = [[graft.io.NioLocalFileSystem]], uncached, as
    *    session confs: every Hadoop conf the session hands out (writers,
    *    readers, streaming state) resolves `file:` to a filesystem that
    *    sets modes without forking `chmod`, whatever the JVM cache holds.
    *  - If the default filesystem is `file:`, Spark's stock
    *    `FileSystemBasedCheckpointFileManager`; the default one renames
    *    through `FileContext`, which forks `readlink` on a local rename.
    * A cluster whose default filesystem is another scheme (`hdfs:`, `s3a:`)
    * is unaffected: its paths resolve and its checkpoints commit as before.
    */
  def install(spark: SparkSession): SparkSession = {
    GraftExtensions.registerMissing(spark)
    val localDefault =
      FileSystem.getDefaultUri(spark.sessionState.newHadoopConf()).getScheme == "file"
    val confs = localFileSystemConfs ++
      Option.when(localDefault)("spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[FileSystemBasedCheckpointFileManager].getName)
    confs.foreach { case (k, v) => if (spark.conf.getOption(k).isEmpty) spark.conf.set(k, v) }
    spark
  }
}
