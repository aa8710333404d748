package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session — Spark's
  * getOrCreate reuses it across suites, keeping `sbt test` fast). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  // overridable so plan-shape suites (PlanAuditSpec) can re-assert
  // against scaled data (ScaleBench's target/scale10) — "no plan flips
  // at 10× data" is part of the scale-stress evidence
  def sfDir = sys.env.getOrElse("SPARK_GRAFT_TEST_SF_DIR",
    "/root/testdata/sf0.001")
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
