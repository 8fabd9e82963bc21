package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each catalog query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py).
  * args = sfDir outDir [query ...]; the optional names restrict the run.
  * Every query runs even when an earlier one fails; the run then prints
  * failed/attempted and exits 1 if any query failed (an unknown name
  * counts as a failure).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    val spark = graft.runtime.LocalSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.text.Json.quote(s)
    // oracle_sql.json is written BEFORE the query loop: a timeout/kill
    // mid-run must leave the driver a valid manifest plus whatever query
    // parquets already landed (round 3's artifact was zeroed because this
    // file was written last and the run exceeded the driver's window).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val unknown = only -- SparkEntry.catalog.keySet
    unknown.foreach(name => System.err.println(s"[verify] $name failed: unknown query"))
    val runs = SparkEntry.catalog.filter { case (name, _) => only.isEmpty || only.contains(name) }
    val failed = unknown.size + runs.count { case (name, query) =>
      val t0 = System.nanoTime()
      try {
        query.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        false
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        true
      }
    }
    spark.stop()
    System.err.println(s"[verify] $failed/${runs.size + unknown.size} failed")
    if (failed > 0) sys.exit(1)
  }
}
