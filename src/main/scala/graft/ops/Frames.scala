package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sliding ("smoothed") and cumulative window frames over ordered series.
  *
  * Reference: per-day / per-game series with `ROWS BETWEEN k PRECEDING AND
  * CURRENT ROW` smoothing (k ∈ {2,6,9,24}) and unbounded cumulative frames
  * (`/root/reference/frontend/generate_lookup_data.sh:734-775,827-868`).
  *
  * Measures are passed as exact integer columns (see [[graft.Exact]]) so the
  * frame sums are order-independent — required for the DuckDB oracle, whose
  * segment-tree windowed aggregation sums in a different order than Spark's
  * buffer scan.
  *
  * At 100 TB: one shuffle on the partition key; all k-frames and the
  * cumulative frame share a single sort. Frames are per-entity, so a series
  * of any length streams through a single ordered scan.
  */
object Frames {

  /** Adds, for each (name, intCol) measure: `<name>_sma<k>` (sliding mean over
    * the trailing k-row frame, exact integer sum / actual frame row count,
    * then /scale) and `<name>_cum` (running exact sum / scale).
    */
  def smoothedAndCumulative(df: DataFrame, entity: Column, order: Column,
                            measures: Seq[(String, Column)], ks: Seq[Int],
                            scale: Double): DataFrame = {
    val base = Window.partitionBy(entity).orderBy(order)
    measures.foldLeft(df) { case (acc, (name, m)) =>
      val withSma = ks.foldLeft(acc) { (a, k) =>
        val w = base.rowsBetween(-(k - 1), Window.currentRow)
        a.withColumn(s"${name}_sma$k",
          sum(m).over(w).cast("double") / (count(lit(1)).over(w) * scale).cast("double"))
      }
      withSma.withColumn(s"${name}_cum",
        sum(m).over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / scale)
    }
  }

  /** The reference's series buckets verbatim: trailing-k-frame SUMS (its
    * `smoothed_k` keys are windowed sums, not means) for count measures and
    * trailing-frame AVGs for ratio measures, plus the cumulative twins
    * (`/root/reference/frontend/generate_lookup_data.sh:734-775,827-868`:
    * sum(...) OVER k-frames for 10 measures, avg(kdRatio/scorePerMinute)).
    *
    * Emits `<name>_s<k>` + `<name>_cum` per sum measure and `<name>_a<k>`
    * + `<name>_cuma` per avg measure. All frames share the one
    * (entity, order) sort — a single shuffle + single ordered scan
    * regardless of how many measures × frames are requested.
    *
    * The frames are ROWS frames, so `order` must be unique within an
    * entity: on a tie the rows' order, and with it each frame, would
    * depend on the input's partitioning.
    */
  def rollingSumsAndAvgs(df: DataFrame, entity: Seq[Column], order: Seq[Column],
                         sumMeasures: Seq[(String, Column)],
                         avgMeasures: Seq[(String, Column)],
                         ks: Seq[Int]): DataFrame = {
    val base = Window.partitionBy(entity: _*).orderBy(order: _*)
    val cumW = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSums = sumMeasures.foldLeft(df) { case (acc, (name, m)) =>
      ks.foldLeft(acc) { (a, k) =>
        a.withColumn(s"${name}_s$k",
          sum(m).over(base.rowsBetween(-(k - 1), Window.currentRow)))
      }.withColumn(s"${name}_cum", sum(m).over(cumW))
    }
    avgMeasures.foldLeft(withSums) { case (acc, (name, m)) =>
      ks.foldLeft(acc) { (a, k) =>
        a.withColumn(s"${name}_a$k",
          avg(m).over(base.rowsBetween(-(k - 1), Window.currentRow)))
      }.withColumn(s"${name}_cuma", avg(m).over(cumW))
    }
  }
}
