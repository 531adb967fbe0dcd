package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (JVM-wide), at the
  * 8 cores `DumpExchangeBudget` and `DumpPlans` plan with.
  */
object TestSpark {
  lazy val spark: SparkSession = util.GraftSession(8)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** A fresh directory under the tmpdir, removed at JVM exit. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    util.Scratch.registerForCleanup(dir)
    dir
  }
}
