package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.core.LocalFrames

/** A7: pandas-`describe()`-shaped summary — count/mean/std/min/25%/50%/
  * 75%/max per numeric column, stats as ROWS (the reference displays
  * `df.describe().round(3)`, `dashboard/app.py:660-663`).
  *
  * One aggregation pass computes count/mean/std/min/max for every
  * column plus exact quartiles via `percentile`; the tiny result is
  * reshaped driver-side and returned as a local frame, so collecting
  * it runs no Spark job. Over a driver-resident input (the single-point
  * fetch of [[graft.OceanEngine]]) the pass is one task with no
  * exchange ([[LocalFrames.oneTask]]). For all-distinct
  * double columns at large scale prefer
  * `SparkEntry.exactPercentilesBySort`'s sort-based approach — this
  * API targets the reference's interactive regime (≤72-row frames up
  * to single-table summaries). std is sample std (ddof=1), matching
  * pandas (SURVEY §7.4).
  *
  * Missing values follow pandas: null and NaN cells are skipped, and a
  * stat with no defined value (every stat of an empty or all-missing
  * column, `std` of a single value) is NaN, never 0.0. `round3` rounds
  * finite values only.
  */
object Describe {
  val Stats: Seq[String] = Seq("count", "mean", "std", "min", "25%", "50%", "75%", "max")

  def describe(df: DataFrame, round3: Boolean = false): DataFrame = {
    val cols = Clean.numericProjection(df).columns.toSeq
    require(cols.nonEmpty, "describe() needs at least one numeric column")
    val aggs = cols.flatMap { c =>
      val d = nanvl(col(c).cast("double"), lit(null).cast("double"))
      Seq(count(d), avg(d), stddev_samp(d), min(d), max(d),
          percentile(d, array(lit(0.25), lit(0.5), lit(0.75))))
    }
    val r: Row = LocalFrames.oneTask(df).agg(aggs.head, aggs.tail: _*).collect().head
    def orNaN(v: Any): Double = if (v == null) Double.NaN else v.asInstanceOf[Double]
    // six aggregate slots per column, in `aggs` order
    def stat(i: Int, s: String): Double = {
      val at = 6 * i
      def pct(k: Int) = Option(r.getSeq[Any](at + 5)).map(q => orNaN(q(k))).getOrElse(Double.NaN)
      s match {
        case "count" => r.getLong(at).toDouble
        case "mean" => orNaN(r.get(at + 1))
        case "std" => orNaN(r.get(at + 2))
        case "min" => orNaN(r.get(at + 3))
        case "max" => orNaN(r.get(at + 4))
        case "25%" => pct(0)
        case "50%" => pct(1)
        case "75%" => pct(2)
      }
    }
    val schema = StructType(
      StructField("summary", StringType, nullable = false) +:
      cols.map(c => StructField(c, DoubleType, nullable = true)))
    val rows = Stats.map { s =>
      val vals = cols.indices.map { i =>
        val v = stat(i, s)
        if (round3 && java.lang.Double.isFinite(v))
          BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
        else v
      }
      Row.fromSeq(s +: vals)
    }
    df.sparkSession.createDataFrame(rows.asJava, schema)
  }
}
