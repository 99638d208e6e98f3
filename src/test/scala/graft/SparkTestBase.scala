package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

trait SparkTestBase {
  /** Plans as `Session.local` does: with comparison constants bound. */
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    graft.plans.BindConstants.install(s)
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Order-insensitive row-set equality on fully-collected results. */
  def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val g = got.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val w = want.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(g == w, s"rows differ:\n got(${g.size}): ${g.take(5)}\nwant(${w.size}): ${w.take(5)}")
  }
}
