package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Describe

/** Golden tests for the pandas-shaped `describe()` surface: the
  * reference renders `df.describe().round(3)` (dashboard/app.py:
  * 660-663) — stats as ROWS under a `summary` column, one column per
  * numeric input column. Values are asserted against hand-computed
  * statistics, not against Spark's own summary(). */
class DescribeSpec extends AnyFunSuite with SparkTestSession {

  test("stat rows in pandas order, exact values for a known frame") {
    import spark.implicits._
    val df = Seq(
      (1.0, 10.0), (2.0, 20.0), (3.0, 30.0), (4.0, 40.0)
    ).toDF("a", "b")
    val got = Describe.describe(df)
    assert(got.columns.toSeq == Seq("summary", "a", "b"))
    val rows = got.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.collect().map(_.getString(0)).toSeq == Describe.Stats) // row ORDER is the shape
    assert(rows("count") == ((4.0, 4.0)))
    assert(rows("mean") == ((2.5, 25.0)))
    // sample std (ddof=1), the pandas default: sqrt(5/3), sqrt(500/3)
    assert(math.abs(rows("std")._1 - math.sqrt(5.0 / 3.0)) < 1e-12)
    assert(math.abs(rows("std")._2 - math.sqrt(500.0 / 3.0)) < 1e-12)
    assert(rows("min") == ((1.0, 10.0)))
    // exact quartiles with linear interpolation (pandas/`percentile`):
    // 1,2,3,4 → 1.75 / 2.5 / 3.25
    assert(rows("25%") == ((1.75, 17.5)))
    assert(rows("50%") == ((2.5, 25.0)))
    assert(rows("75%") == ((3.25, 32.5)))
    assert(rows("max") == ((4.0, 40.0)))
  }

  test("round3 matches the reference's .round(3) display discipline") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 4.0).toDF("x")
    val got = Describe.describe(df, round3 = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("mean") == 2.333) // 7/3 → 2.333, HALF_UP at 3 decimals
    assert(got("std") == 1.528)  // sqrt(7/3) = 1.52752... → 1.528
    assert(got("25%") == 1.5)
  }

  test("non-numeric columns are excluded; all-numeric requirement enforced") {
    import spark.implicits._
    val mixed = Seq(("x", 1.0), ("y", 3.0)).toDF("s", "v")
    val got = Describe.describe(mixed)
    assert(got.columns.toSeq == Seq("summary", "v"))
    val strings = Seq("only", "strings").toDF("s")
    assertThrows[IllegalArgumentException](Describe.describe(strings))
  }

  /** Stat rows of the rounded display form, so NaN also goes through round3. */
  private def statsOf(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Double]] =
    Describe.describe(df, round3 = true).collect()
      .map(r => r.getString(0) -> (1 until r.length).map(r.getDouble)).toMap

  test("one row: std is NaN (ddof=1 over one value), the rest is the value") {
    import spark.implicits._
    val got = statsOf(Seq(2.5).toDF("x"))
    assert(got("count") == Seq(1.0))
    assert(got("std").head.isNaN)
    Seq("mean", "min", "25%", "50%", "75%", "max").foreach(s => assert(got(s) == Seq(2.5), s))
  }

  test("all-null column: count 0, every other stat NaN; its neighbour unaffected") {
    import spark.implicits._
    val df = Seq((Option.empty[Double], 1.0), (None, 3.0)).toDF("gone", "x")
    val got = statsOf(df)
    assert(got("count") == Seq(0.0, 2.0))
    Describe.Stats.filterNot(_ == "count").foreach(s => assert(got(s).head.isNaN, s))
    assert(got("mean")(1) == 2.0 && got("50%")(1) == 2.0 && got("std")(1) == 1.414)
  }

  test("empty frame: count 0, every other stat NaN, no exception") {
    import spark.implicits._
    val got = statsOf(Seq.empty[(Double, Long)].toDF("x", "n"))
    assert(got.keySet == Describe.Stats.toSet)
    assert(got("count") == Seq(0.0, 0.0))
    Describe.Stats.filterNot(_ == "count").foreach(s => assert(got(s).forall(_.isNaN), s))
  }

  test("a NaN cell is skipped like a missing value, as pandas does") {
    import spark.implicits._
    val got = statsOf(Seq(1.0, Double.NaN, 3.0).toDF("x"))
    assert(got("count") == Seq(2.0))
    assert(got("mean") == Seq(2.0))
    assert(got("std") == Seq(1.414))
    assert(got("min") == Seq(1.0) && got("max") == Seq(3.0))
    assert(got("25%") == Seq(1.5) && got("50%") == Seq(2.0) && got("75%") == Seq(2.5))
  }
}
