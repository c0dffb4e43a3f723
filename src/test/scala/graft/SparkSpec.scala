package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate — one JVM-wide
  * session, suites run serially).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")

  /** The smallest driver-shipped scale factor — correctness only. */
  val sfDir = "/root/testdata/sf0.001"

  /** The scale factor large enough to saturate sketch capacities
    * (e.g. KMV's K=64 needs ≥ 150 users/type). Specs that need it must
    * call [[requireSaturatedCorpus]] first so a checkout without the
    * corpus fails with a clear message instead of a read error.
    */
  val saturatedSfDir = "/root/testdata/sf0.01"

  def requireSaturatedCorpus(): Unit =
    assume(new java.io.File(saturatedSfDir).isDirectory,
      s"saturated corpus $saturatedSfDir absent on this checkout")

  def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private var tempRoot: Option[java.nio.file.Path] = None

  /** A fresh directory under this suite's temp root; the root, with
    * everything under it, is deleted in afterAll.
    */
  def tempDir(prefix: String): java.nio.file.Path = synchronized {
    val root = tempRoot.getOrElse {
      val r = java.nio.file.Files.createTempDirectory("graft-spec-")
      tempRoot = Some(r)
      r
    }
    java.nio.file.Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try synchronized(tempRoot).foreach(Materialized.deleteTree)
    finally super.afterAll()
}
