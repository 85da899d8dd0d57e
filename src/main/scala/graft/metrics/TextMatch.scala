package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text match metrics — the Spark restatement of the reference's `TextMatch`
  * (/root/reference/cnstd/utils/metrics.py:60-137): word accuracy in raw,
  * caseless, ASCII-folded ("unidecode" analog via NFD + combining-mark strip),
  * and caseless+folded variants, as plain codegen'd aggregates. Folding is
  * the native [[graft.expr.Native.fold]] Column, not a UDF — same fold as
  * [[graft.expr.AsciiFold.fold]].
  */
object TextMatch {

  /** ASCII folding as a String function (oracle/test convenience). */
  def fold(s: String): String = graft.expr.AsciiFold.fold(s)

  private def foldCol(c: Column): Column = graft.expr.Native.fold(c)

  /** Match-rate summary over (gt, pred) string column pairs. */
  def summary(df: DataFrame, gt: Column, pred: Column): DataFrame = {
    def rate(c: Column): Column = round(avg(when(c, 1.0).otherwise(0.0)), 4)
    df.agg(
      rate(gt === pred).as("raw"),
      rate(lower(gt) === lower(pred)).as("caseless"),
      rate(foldCol(gt) === foldCol(pred)).as("folded"),
      rate(lower(foldCol(gt)) === lower(foldCol(pred))).as("caseless_folded"),
      count(lit(1)).as("n"))
  }
}
