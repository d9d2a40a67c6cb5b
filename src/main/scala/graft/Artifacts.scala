package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-lifetime artifact registry with EXPLICIT release.
  *
  * Several operators materialize derived artifacts once per (session, input
  * dir) and serve every subsequent query from them — the trained IVF index
  * (operators/Similarity), the decontamination blocklist + its broadcast
  * bloom filter (operators/CorpusStats), the streaming denylist
  * (streaming/StreamingQueries), the mixture-balance counts
  * (operators/Pipeline). That amortization is the right call at 100 TB
  * (an index is storage, not a recomputed view), but pinned executor
  * storage and driver broadcasts must also be RELEASABLE: a long-lived
  * session that has moved past a corpus should not accrete dead caches
  * forever. This registry is the one place all of those live, keyed by
  * (session, artifact key), each with a release hook (drop checkpoint
  * blocks or files / destroy broadcast) that [[release]] runs and forgets.
  * DataFrame artifacts are eager checkpointed leaves ([[checkpointedDf]],
  * [[leafDf]]), never lazy `persist` caches: AQE's concurrent stage
  * submission races a lazy persist and re-runs its build once per
  * consuming stage. (Only a per-call leaf whose first consumer is a
  * single sink job, the decoder's, is lazy.)
  *
  * Assumptions (documented, test-pinned in ArtifactsSpec):
  *  - artifact inputs are immutable per (session, dir) — re-deriving after
  *    the underlying files changed requires a [[release]] first;
  *  - release is cooperative: callers stop using handed-out DataFrames
  *    and broadcasts before releasing (a released leaf has no lineage to
  *    recompute from, and a destroyed broadcast cannot be read).
  */
object Artifacts {

  private final case class Entry(value: AnyRef, releaseFn: () => Unit)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Entry]()

  /** Build lock: builds must NOT run inside `computeIfAbsent` — artifact
    * builds nest (the minhash-signature artifact's build reads the
    * shingle-hash artifact), and a nested `computeIfAbsent` on the same
    * map throws `IllegalStateException("Recursive update")` whenever the
    * two keys land in the same hash bin. That is key- and content-
    * dependent, so it surfaced only for some (sf dir, query order)
    * combinations (q52 at sf0.1 in a full Verify run). A single
    * REENTRANT lock lets same-thread nested builds proceed while still
    * serializing cross-thread races on first build.
    */
  private val buildLock = new java.util.concurrent.locks.ReentrantLock()

  /** Memoize an artifact with an explicit release hook. `build` runs at
    * most once per (session, key); the returned value is shared by every
    * caller until [[release]]. Reentrant: `build` may itself request
    * other artifacts. Jobs started by `build` carry the job description
    * `artifact:<key>`; the caller's is restored afterwards (builds nest).
    */
  def cached[T <: AnyRef](s: SparkSession, key: String)(
      build: => (T, () => Unit)): T = {
    val k = (s, key)
    val e0 = entries.get(k)
    if (e0 != null) return e0.value.asInstanceOf[T]
    buildLock.lock()
    try {
      val e1 = entries.get(k)
      if (e1 != null) e1.value.asInstanceOf[T]
      else {
        val sc = s.sparkContext
        val caller = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(s"artifact:$key")
        val (v, rel) = try build finally sc.setJobDescription(caller)
        entries.put(k, Entry(v, rel))
        v
      }
    } finally buildLock.unlock()
  }

  /** A materialized-LEAF artifact: eager `localCheckpoint` instead of
    * persist. The returned DataFrame's logical plan is a single
    * `LogicalRDD` over the checkpointed blocks — the derivation lineage
    * is gone. Use for artifacts with DEEP build plans (the trained
    * vector indexes): a `persist` keeps the whole training tree alive in
    * every consumer's logical plan, and analysis + cache-lookup
    * canonicalization over that tree costs SECONDS per action even when
    * the cached data is hit (measured: a count() on a 300-row persisted
    * index table took ~4 s from tree overhead alone). A checkpointed
    * leaf makes every consumer's plan small, which is also the honest
    * 100 TB shape — a production index is read from storage, not
    * re-derived through live lineage. Release unpersists the checkpoint
    * blocks (the leaf DataFrame is NOT usable afterwards — there is no
    * lineage to recompute from; the next [[cached]] call rebuilds from
    * scratch).
    */
  def checkpointedDf(s: SparkSession, key: String)(
      build: => DataFrame): DataFrame =
    cached[DataFrame](s, key) { leafDf(build) }

  /** Conf key selecting the leaf durability mode for EVERY [[leafDf]]
    * artifact (the whole index family routes through it): `false`
    * (default) = executor-local checkpoint blocks — fastest, right for
    * local[n] and for any deployment that treats in-session artifacts as
    * rebuildable caches; `true` = reliable file checkpoints under
    * `spark.checkpoint.dir` — executor churn cannot lose the artifact,
    * the cluster deployment's setting. One conf flips the family; the
    * WRITTEN index (q105's files) remains the fully durable form either
    * way.
    */
  val ReliableArtifactsConf = "spark.graft.reliableArtifacts"

  /** Materialize a DataFrame as a checkpointed leaf + its release hook —
    * the building block [[checkpointedDf]] and the tuple-valued index
    * artifacts share. Durability per [[ReliableArtifactsConf]].
    *
    * `eager = false` (local arm only) starts no job here: the first action
    * on the leaf stores its blocks as it computes them, and Spark's
    * `doCheckpoint` fills any partition that action skipped (a `take`).
    * It is meant for a leaf whose first action reads it in one job (a
    * sink): stages that AQE submits at once can each compute a partition
    * no executor holds yet. The reliable arm is always eager, so its input
    * is still read once.
    */
  def leafDf(df: DataFrame, eager: Boolean = true): (DataFrame, () => Unit) = {
    val s = df.sparkSession
    if (s.conf.get(ReliableArtifactsConf, "false").toBoolean) reliableLeaf(df)
    else {
      val chk = df.localCheckpoint(eager)
      val release = () => chk.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = true); ()
        case _ => ()
      }
      (chk, release)
    }
  }

  /** A reliable (file-backed) checkpoint leaf + a release hook that
    * deletes its files — [[leafDf]]'s cluster-safe arm. A
    * `localCheckpoint` leaf trades lineage for blocks that are NOT
    * recoverable if an executor dies — irrelevant on local[n], but on a
    * real cluster a lost executor mid-session kills the artifact with no
    * rebuild path short of release+retrain (ArtifactsSpec pins exactly
    * that recovery path for the local variant). This arm pays one
    * durable storage write and every read recomputes from the checkpoint
    * FILES, so executor churn cannot lose it — the halfway point between
    * an in-memory leaf and a full table write
    * ([[graft.operators.Similarity.writeIvfIndex]], the production form).
    * Sets a JVM-temp checkpoint dir if the session has none (local runs;
    * a cluster deployment points spark.checkpoint.dir at shared storage).
    * RDD checkpoints write through the context's Hadoop conf, not the
    * session's, so [[GraftSession.localFileSystemConfs]] the context lacks
    * are set there first: `file:` checkpoint files then fork no `chmod`.
    */
  private def reliableLeaf(df: DataFrame): (DataFrame, () => Unit) = {
    val s = df.sparkSession
    val hadoopConf = s.sparkContext.hadoopConfiguration
    GraftSession.localFileSystemConfs.foreach { case (k, v) =>
      if (hadoopConf.get(k) == null) hadoopConf.set(k, v)
    }
    if (s.sparkContext.getCheckpointDir.isEmpty)
      s.sparkContext.setCheckpointDir(java.nio.file.Files
        .createTempDirectory("graft_reliable_chk").toString)
    val chk = df.checkpoint(eager = true)
    val release = () => chk.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
      case _ => ()
    }
    (chk, release)
  }

  /** Release every artifact registered for `s`: run each release hook
    * (drop checkpoint blocks, destroy broadcasts) and forget the entries,
    * so the next query rebuilds from scratch. Call when a session is done
    * with a corpus (or before stopping it — entries keyed by a stopped
    * session would otherwise stay strongly referenced here).
    *
    * Holds [[buildLock]] for the sweep: a release racing an in-flight
    * build could otherwise unpersist entries and then have the build's
    * `entries.put` re-register an artifact release already forgot —
    * leaking its persisted blocks. Serializing release against builds
    * makes the sweep atomic with respect to registration.
    */
  def release(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    buildLock.lock()
    try {
      val keys = entries.keySet.asScala.filter(_._1 eq s).toList
      keys.foreach { k =>
        val e = entries.remove(k)
        if (e != null) e.releaseFn()
      }
    } finally buildLock.unlock()
  }

  /** Registered artifact count for a session (test/observability hook). */
  def registered(s: SparkSession): Int = {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.count(_._1 eq s)
  }
}
