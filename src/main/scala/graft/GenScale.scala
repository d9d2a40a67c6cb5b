package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-replica generator for the sf1 bench study (ADVICE r13 item 3:
  * one measured decade of scaling beside the sf0.1 suite numbers).
  *
  * Writes a key-shifted K× replica of a driver testdata directory: fact
  * tables are crossed with a K-row replica grid and every key column is
  * shifted by `rep × (max_key + 1)` so referential joins (orders ⋈
  * lineitem, customer ⋈ orders, documents ⋈ embeddings via the shared
  * id space) stay exactly K×, while the dimension tables (region,
  * nation) and all value/time/text columns are untouched — the day
  * DOMAIN stays fixed as the corpus grows, which is the realistic
  * scaling axis (more traffic, same calendar).
  *
  * Deliberate consequence, noted per-query in BENCH_NOTES: text and
  * embedding PAYLOADS repeat K× under distinct ids, so the dedup/ANN
  * families measure their DUP-HEAVY adversarial regime (every document
  * gains K−1 exact twins) — precisely the stress case the hot-bucket
  * caps and cell-bounded pair expansions exist for.
  *
  * Usage: graft.GenScale <srcDir> <dstDir> [copies=10]
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession(shufflePartitions = 32,
      confs = Map("spark.app.name" -> "graft-genscale"))
    val reps = broadcast(spark.range(copies).toDF("rep"))
    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def save(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def stride(df: DataFrame, k: String): Long =
      df.agg(max(col(k)).cast("long")).collect()(0).getLong(0) + 1L
    def shifted(df: DataFrame, keys: (String, Long)*): DataFrame =
      keys.foldLeft(df.crossJoin(reps)) { case (d, (k, s)) =>
        d.withColumn(k, col(k) + col("rep") * s)
      }.drop("rep")

    save(load("region"), "region")
    save(load("nation"), "nation")

    val cust = load("customer")
    val sCust = stride(cust, "c_custkey")
    save(shifted(cust, "c_custkey" -> sCust), "customer")

    val supp = load("supplier")
    val sSupp = stride(supp, "s_suppkey")
    save(shifted(supp, "s_suppkey" -> sSupp), "supplier")

    val part = load("part")
    val sPart = stride(part, "p_partkey")
    save(shifted(part, "p_partkey" -> sPart), "part")

    val orders = load("orders")
    val sOrd = stride(orders, "o_orderkey")
    save(shifted(orders, "o_orderkey" -> sOrd, "o_custkey" -> sCust),
      "orders")

    save(shifted(load("lineitem"), "l_orderkey" -> sOrd,
      "l_partkey" -> sPart, "l_suppkey" -> sSupp), "lineitem")

    val events = load("events")
    val sEv = stride(events, "event_id")
    // user ids are shifted by their own stride so each replica is a
    // fresh user population over the same calendar; the stride is
    // computed over NON-NEGATIVE ids only (anticipating a negative
    // anonymous-user sentinel), so the shift must also skip negative
    // ids — a shifted sentinel r·sUser − 1 would collide with replica
    // r−1's maximum real user and silently merge timelines (ADVICE r14)
    val sUser = stride(events.where(col("user_id") >= 0), "user_id")
    save(events.crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * sEv)
      .withColumn("user_id",
        when(col("user_id") >= 0, col("user_id") + col("rep") * sUser)
          .otherwise(col("user_id")))
      .drop("rep"), "events")

    val docs = load("documents")
    val sDoc = stride(docs, "doc_id")
    save(shifted(docs, "doc_id" -> sDoc), "documents")

    // embeddings share the document id space (vec_id == doc_id): the
    // SAME stride keeps the alignment contract at every replica
    save(shifted(load("embeddings"), "vec_id" -> sDoc), "embeddings")

    println(s"wrote ${copies}x replica of $src -> $dst")
    spark.stop()
  }
}
