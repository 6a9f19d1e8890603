package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + reference fixtures for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The OUTER final adaptive plan text: cut at the TOP-LEVEL
    * "+- == Initial Plan ==" marker (anchored at column 0) only.
    * Cached inputs (Retrieval.docs) print a whole nested
    * AdaptiveSparkPlan inside their InMemoryRelation subtree, so
    * splitting on the bare substring truncates the outer final plan at
    * the NESTED marker and plan pins read a partial tree.
    */
  def finalPlanOf(p: String): String =
    p.split("(?m)^\\+- == Initial Plan ==$").head
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.get()

  /** ZTF alert fixture (133 alerts in this checkout — see
    * tools/dev_goldens.py for how expected counts were derived).
    */
  lazy val ztfRegular: DataFrame = {
    val df = session.read.parquet(
      Fixtures.checked(graft.operators.GoldenQueries.FixtureDir))
    df.cache()
    df
  }

  lazy val rubinFixture: DataFrame = {
    val df = session.read.parquet(
      Fixtures.checked(graft.operators.GoldenQueries.RubinFixtureDir))
    df.cache()
    df
  }
}
