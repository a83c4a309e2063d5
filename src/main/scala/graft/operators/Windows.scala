package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Window-function operators (SURVEY §2.5). */
object Windows {

  /** W1 — trailing n-row moving average with pandas `rolling(n)` semantics
    * (viz.py:77): the first n-1 rows are null (min_periods = window), unlike
    * Spark's default partial averages. The mask is a count over the same
    * frame. */
  def trailingAvg(df: DataFrame, orderCol: String, valueCol: String, n: Int,
                  outCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    val base = if (partitionCols.isEmpty) Window.orderBy(orderCol)
               else Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCol)
    val frame = base.rowsBetween(-(n - 1), 0)
    df.withColumn(outCol,
      when(count(col(valueCol)).over(frame) === n,
        avg(col(valueCol)).over(frame)))
  }
}
