package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Frames whose rows already live on the driver.
  *
  * The interactive single-point path (one grid point, ≤72 monthly rows)
  * is bound by Spark's fixed per-job cost, not by data volume: every
  * action over a lazy plan re-executes it, and every global aggregate
  * over an unknown partitioning plans an exchange, i.e. a second job.
  * [[materialize]] runs the plan once and keeps the rows as a
  * `LocalRelation`, which collects without a job; [[oneTask]] lets an
  * aggregate or write over such a frame run as a single task.
  *
  * Only for frames the driver already holds or is bounded to hold (a
  * fetched response body, a size-capped cache entry); distributed data
  * never goes through here.
  */
object LocalFrames {

  /** Collect `df` once and return a frame over those rows: same schema,
    * same row order, planned as a `LocalRelation`, so collecting it (or
    * a projection/filter of it) runs no Spark job. */
  def materialize(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** `df` as one partition when its optimized plan is a driver-resident
    * `LocalRelation`: an aggregate over it then needs no exchange (one
    * job, one task) and a write lands one file in row order. Any other
    * frame is returned unchanged, so distributed plans keep their
    * parallelism. */
  def oneTask(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df.coalesce(1) else df
}
