package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite runtime dominated by actual work, not session startup). */
object SparkSpec {
  lazy val spark: SparkSession =
    graft.util.Sessions.local(4).appName("graft-test").getOrCreate()

  /** The repo root: the first ancestor of the working directory holding
    * build.sbt (forked tests may run from another directory). */
  def repoRoot: java.io.File = {
    def find(d: java.io.File): Option[java.io.File] =
      if (d == null) None
      else if (new java.io.File(d, "build.sbt").exists()) Some(d)
      else find(d.getParentFile)
    find(new java.io.File(".").getAbsoluteFile)
      .getOrElse(throw new IllegalStateException("no build.sbt above CWD"))
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
