package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import graft.streaming.StreamRuns.deleteRec
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Build one query and write it as parquet under `outDir/name`. The
    * directory is deleted before the build and again if the build or
    * write throws, so a failing query leaves no directory, never an
    * earlier run's output for the oracle compare to check. Returns
    * whether the dump succeeded. */
  private[graft] def dumpQuery(spark: SparkSession, name: String,
      build: (SparkSession, String) => DataFrame, sfDir: String,
      outDir: String): Boolean = {
    val dir = Paths.get(outDir, name)
    deleteRec(dir)
    try {
      build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(dir.toString)
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      deleteRec(dir)
      false
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    SparkEntry.sweepDeadScratch(sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.util.Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional query-name filter (same contract as Bench) for re-dumping
    // a single query while iterating.
    SparkEntry.selectedQueries().foreach { case (name, fn) =>
      val before = graft.util.CacheHygiene.snapshot(spark)
      dumpQuery(spark, name, fn, sfDir, outDir)
      // pair operators return their result cached (caller-unpersists
      // contract) — release per query so a 68-query dump stays flat
      graft.util.CacheHygiene.releaseNew(spark, before)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
