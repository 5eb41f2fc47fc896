package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** One shared local session for all suites (tests fork into a single
  * JVM; building a session per suite would dominate runtime). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Copies of expression type `K` across every node of a plan. */
  def copiesIn[K <: Expression: ClassTag](plan: LogicalPlan): Int =
    plan.collect { case node => node.expressions }.flatten
      .map(_.collect { case k: K => k }.size).sum

  /** Copies of `K` in a batch frame's optimized plan. */
  def kernelCopies[K <: Expression: ClassTag](df: DataFrame): Int =
    copiesIn[K](df.queryExecution.optimizedPlan)
}
