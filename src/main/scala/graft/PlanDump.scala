package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev tool: write `.explain("formatted")` output for registered queries
  * to files — the evidence behind `plans/r18/<query>_{before,after}.txt`.
  *
  * Usage:
  *   java -cp ... graft.PlanDump <outDir> <suffix> <query> [query ...]
  * writes `<outDir>/<query>_<suffix>.txt` per query, reading data from
  * `$SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.001).
  */
object PlanDump {
  def main(a: Array[String]): Unit = {
    val outDir = Paths.get(a(0))
    Files.createDirectories(outDir)
    val suffix = a(1)
    val spark = GraftSession("local[4]", shufflePartitions = 8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    a.drop(2).foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"${q}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"wrote ${q}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
