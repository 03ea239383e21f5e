package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{MediaKernels, TextKernels, VectorKernels}

/** Pins the single-implementation rule of the row kernels
  * ([[graft.functions.RowKernel]]): a kernel's algorithm is one Scala
  * function, and the generated code only calls it. */
class RowKernelSpec extends SparkSpec {

  test("no doGenCode under graft/functions generates a loop") {
    val dir = SparkSpec.repoRoot.toPath.resolve("src/main/scala/graft/functions")
    val files = {
      val s = Files.list(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val loop = """\b(for|while) \(""".r
    def indent(l: String): Int = l.takeWhile(_ == ' ').length
    // each doGenCode body: the lines after its `def` up to the next
    // member at the same indentation (or the end of the enclosing type)
    val bodies = files.flatMap { f =>
      val lines = Files.readAllLines(f, UTF_8).asScala.toVector
      lines.indices.filter(lines(_).contains("def doGenCode")).map { i =>
        val base = indent(lines(i))
        val body = lines.drop(i + 1).takeWhile(l => l.trim.isEmpty ||
          indent(l) > base || (indent(l) == base && l.trim.startsWith("}")))
        s"${dir.getParent.getParent.relativize(f)}:${i + 1}" -> body
      }
    }
    assert(bodies.nonEmpty, "the scan found no doGenCode at all")
    val loops = bodies.collect {
      case (at, body) if body.exists(l => loop.findFirstIn(l).nonEmpty) => at
    }
    assert(loops.isEmpty, s"doGenCode emitting a loop: ${loops.mkString(", ")}")
  }

  test("every row kernel's generated call compiles and equals its " +
      "interpreted eval") {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(3L, 5L, 8L).foreach(bloom.putLong)
    val bc = spark.sparkContext.broadcast(bloom)
    // SOI, then a baseline SOF0 of 16x32 with one component
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x0B, 0x08, 0x00, 0x10,
      0x00, 0x20, 0x01, 0x01, 0x11, 0x00).map(_.toByte)
    val dbls = ArrayType(DoubleType)
    val longs = ArrayType(LongType)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", dbls), StructField("b", dbls),
      StructField("la", longs), StructField("lb", longs),
      StructField("t", StringType), StructField("h", LongType),
      StructField("bin", BinaryType)))
    val rows = Seq(
      Row(1L, Seq(1.5, -2.0, 3.0), Seq(0.5, 4.0, -1.0), Seq(1L, 2L, 3L),
        Seq(1L, 3L, 5L), "the cat sat on the mat the cat sat", 3L, jpeg),
      // NaN cosine stays NaN, zero norm and empty union give null
      Row(2L, Seq(Double.NaN, 1.0), Seq(1.0, 1.0), Seq(7L, 8L, 9L),
        Seq(7L, 8L, 9L), null, null, "not a jpeg".getBytes(UTF_8)),
      Row(3L, Seq(0.0, 0.0), Seq(1.0, 1.0), null, Seq(1L, 2L, 4L), "",
        4L, null),
      Row(4L, null, Seq(1.0, 2.0), Seq(1L, 2L, 3L), Seq(4L, 5L, 6L),
        "Ünïcode 2024-01-02 yes", 8L, jpeg.take(6)),
      Row(5L, Seq(1.0, null), Seq(2.0, 2.0), Seq(0L, 0L, 0L),
        Seq(0L, 0L, 0L), "  42 ", -1L, Array.emptyByteArray))
    // RDD-backed: a local relation would be evaluated at the driver
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      schema)
    val centers = Array(Array(0.0, 0.0, 0.0), Array(1.0, -1.0, 1.0),
      Array(2.0, 2.0))
    def run(): Seq[Row] = df.select(col("id"),
      VectorKernels.dot(col("a"), col("b")),
      VectorKernels.cosine(col("a"), col("b")),
      VectorKernels.vecOk(col("a")),
      VectorKernels.signature(col("a"), 3, 8),
      VectorKernels.sigAgree(col("la"), col("lb"), 3, 0.5),
      VectorKernels.sortedJaccard(col("la"), col("lb"), 0.2),
      VectorKernels.assignCell(col("a"), centers),
      VectorKernels.probeCells(col("a"), centers, 2),
      TextKernels.shingles(col("t"), 3),
      TextKernels.simhashVote(col("la"), 8),
      TextKernels.repetition(col("t")),
      TextKernels.probeMask(col("t")),
      TextKernels.repetitionKeep(col("t"), 0.3, 0.18, 0.16, 0.15),
      TextKernels.bloomContains(col("h"), bc),
      MediaKernels.jpegSof(col("bin")),
      graft.text.Bpe.tokens(col("t"), graft.text.Bpe.DemoMerges),
      graft.text.Bpe.tokenCount(col("t"), graft.text.Bpe.DemoMerges))
      .orderBy("id").collect().toSeq
    val keys = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      // a generated call that does not compile fails here instead of
      // falling back to eval
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val generated = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = run()
      assert(generated == interpreted)
      assert(generated(1).isNullAt(2) == false &&
        generated(1).getDouble(2).isNaN, "a NaN cosine must stay NaN")
      assert(generated(2).isNullAt(2), "a zero-norm cosine must be null")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
