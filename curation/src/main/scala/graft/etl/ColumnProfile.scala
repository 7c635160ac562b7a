package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ANALYZE-style column statistics in ONE aggregate pass: per column,
  * row count, null count, distinct count, and stringified min/max — the
  * table profile a cost-based optimizer (or a human sizing a join)
  * consumes, the Spark analog of the reference's manual row-count/SHOW
  * INDEX checks. Values are stringified so one long-form schema covers
  * every column type. */
object ColumnProfile {

  /** Exact NDV for every column rides a single Expand-based aggregate (one
    * job, k·rows map-side expansion) — the deliberate trade for
    * hash-checkable numbers; [[analyzeColumnsApprox]] is the form for when
    * estimates suffice and the expand cost matters more than exactness. */
  def analyzeColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    analyzeWith(df, cols, countDistinct(_))

  /** The 100 TB form of [[analyzeColumns]]: `approx_count_distinct`
    * (HyperLogLog++, relative error `rsd`) replaces the exact NDV, so the
    * profile is ONE pass with no Expand — each column's HLL sketch
    * partial-aggregates map-side and merges associatively, the same
    * mergeable-sketch shape as every other scale path here. Estimates are
    * engine-specific (no DuckDB hash row); accuracy is asserted against
    * [[analyzeColumns]] within 3·rsd in SourcesSpec. */
  def analyzeColumnsApprox(df: DataFrame, cols: Seq[String],
      rsd: Double = 0.05): DataFrame =
    analyzeWith(df, cols, approx_count_distinct(_, rsd))

  /** The profile body shared by both forms; they differ only in the
    * aggregate that counts a column's distinct values. */
  private def analyzeWith(df: DataFrame, cols: Seq[String],
      ndv: Column => Column): DataFrame = {
    require(cols.nonEmpty, "no columns to analyze")
    val aggs = count(lit(1)).as("__n_rows") +: cols.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__${c}__nulls"),
      ndv(col(c)).as(s"__${c}__ndv"),
      min(col(c)).cast("string").as(s"__${c}__min"),
      max(col(c)).cast("string").as(s"__${c}__max"))
    }
    val long = cols.map(c => struct(
      lit(c).as("col_name"), col("__n_rows").as("n_rows"),
      col(s"__${c}__nulls").as("n_nulls"), col(s"__${c}__ndv").as("n_distinct"),
      col(s"__${c}__min").as("min_val"), col(s"__${c}__max").as("max_val")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(long: _*)).as("r"))
      .select(col("r.col_name"), col("r.n_rows"), col("r.n_nulls"),
        col("r.n_distinct"), col("r.min_val"), col("r.max_val"))
  }
}
