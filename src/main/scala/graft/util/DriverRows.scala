package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.DatasetShim
import org.apache.spark.sql.types._

/** Frames whose rows already sit in the driver.
  *
  * A metadata step over driver-scale input (a snapshot the driver fold
  * built, a listing or request frame made from a `Seq`) answers from
  * those rows and returns another local frame: no Spark job and no
  * collect round trip. Every other input keeps its DataFrame plan, so
  * the arm is a property of the input's plan, never a size knob. */
object DriverRows {

  /** The rows of `df` when its plan is one non-streaming
    * `LocalRelation`. The analyzed plan is checked first: a frame built
    * from rows, or returned by a driver arm, is one. Otherwise the
    * optimized plan is, when Catalyst folds projections and filters over
    * local rows into one (one optimizer pass, about 2 ms a frame; the
    * frame's own action later reuses it). */
  def of(df: DataFrame): Option[LocalRelation] = {
    val qe = df.queryExecution
    (qe.analyzed match {
      case l: LocalRelation => Some(l)
      case _ => qe.optimizedPlan match {
        case l: LocalRelation => Some(l)
        case _ => None
      }
    }).filterNot(_.isStreaming)
  }

  /** A frame over driver rows: the answer of a driver arm. */
  def frame(spark: SparkSession, output: Seq[Attribute],
            rows: Seq[InternalRow]): DataFrame =
    DatasetShim.ofRows(spark, LocalRelation(output, rows))

  /** The relation's rows as external rows that carry its schema, so
    * callers read them by name as they read collected rows. */
  def rows(l: LocalRelation): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(l.schema)
    l.data.map(r => toRow(r).asInstanceOf[Row])
  }

  /** Types whose driver-side values compare as Spark compares them, in
    * equality (joins, grouping) and in order (min/max): strings of the
    * default collation, integral and decimal numbers, booleans, dates,
    * timestamps. Floats (Spark normalizes -0.0 and NaN), binary (arrays
    * compare by reference), collated strings and nested types keep the
    * distributed arm. */
  def comparable(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => false
    case _: NumericType | BooleanType | DateType | TimestampType |
         TimestampNTZType => true
    case s: StringType => s == StringType
    case _ => false
  }
}
