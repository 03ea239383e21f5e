package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.util.Sessions

/** Pins the one session recipe, [[graft.util.Sessions.local]], and keeps
  * it the only one: the plans the specs and Verify check are planned with
  * the split sizes Bench times only while every session comes from it. */
class SessionsSpec extends SparkSpec {

  private def recipe(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (2L << 20).toString,
    "spark.sql.files.openCostInBytes" -> (256L << 10).toString)

  /** A builder's pending options. The map is `protected` in Scala; its JVM
    * accessor is public. */
  private def options(b: SparkSession.Builder): Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap

  test("a recipe builder carries the split sizes, UTC, nanosAsLong and " +
      "one shuffle partition per core") {
    val opts = options(Sessions.local(3))
    assert(opts.get("spark.master").contains("local[3]"))
    recipe(3).foreach { case (k, v) => assert(opts.get(k).contains(v), k) }
  }

  test("the shared spec session is built from the recipe") {
    assert(spark.sparkContext.master == "local[4]")
    recipe(4).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("no session builder under src/ except the recipe") {
    // split so that this file does not match itself
    val needle = "SparkSession" + ".builder"
    val root = SparkSpec.repoRoot.toPath
    val hits = Seq("src/main", "src/test").flatMap { d =>
      val s = Files.walk(root.resolve(d))
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }.filter(p => new String(Files.readAllBytes(p), ISO_8859_1).contains(needle))
      .map(p => root.relativize(p).toString).sorted
    assert(hits == Seq("src/main/scala/graft/util/Sessions.scala"))
  }
}
