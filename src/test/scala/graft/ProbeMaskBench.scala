package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

// Throwaway A/B probe for the r16 ProbeMask kernel — test scope only.
// Times the exact q_typeconvert_auto detection scan (probe mask + bit
// sums + approx_count_distinct over three string columns of lineitem)
// with the probe as (a) the r15-era Scala UDF and (b) the graft_probe_mask
// codegen expression, alternating 3 rounds in one JVM so JIT/codegen
// warmup amortizes equally. Run:
//   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.ProbeMaskBench"
object ProbeMaskBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def stringly(s: SparkSession): DataFrame =
      Tables.load(s, dir, "lineitem").select(
        col("l_quantity").cast(StringType).as("l_quantity"),
        when(col("l_discount") > 0.05, lit("yes")).otherwise(lit("no"))
          .as("disc_flag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_str"))

    val strCols = Seq("l_quantity", "disc_flag", "ship_str")
    val legacyProbe = udf(graft.ops.TypeConvert.probeMask)

    def scan(probe: Column => Column): Unit = {
      val df = stringly(spark)
      val flagCols = strCols.flatMap { c =>
        Seq(probe(col(c)).as(s"${c}__m"), col(c).as(s"${c}__v"))
      }
      val flags = df.select(flagCols: _*)
      def bit(c: String, b: Int): Column =
        sum(shiftright(col(s"${c}__m"), b).bitwiseAND(lit(1L)))
      val aggs = strCols.flatMap { c => Seq(
        bit(c, 0).as(s"${c}__n"), bit(c, 1).as(s"${c}__num"),
        bit(c, 2).as(s"${c}__int"), bit(c, 3).as(s"${c}__dtc"),
        bit(c, 4).as(s"${c}__bool"),
        approx_count_distinct(col(s"${c}__v")).as(s"${c}__card"))
      }
      flags.agg(aggs.head, aggs.tail: _*).head()
    }

    // warmup both paths once
    scan(c => legacyProbe(c))
    scan(c => graft.functions.TextKernels.probeMask(c))
    for (round <- 1 to 3) {
      for ((label, probe) <- Seq(
          "udf" -> ((c: Column) => legacyProbe(c)),
          "kernel" -> ((c: Column) => graft.functions.TextKernels.probeMask(c)))) {
        val t0 = System.nanoTime()
        scan(probe)
        println(f"[probe-bench] [$round] $label%-7s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
