package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The as-of join composed from built-ins — union both sides, then a
  * running `last(ignoreNulls)` window per key — kept as the equivalence
  * witness NativeAsOfJoinSpec compares the native operator against. Same
  * contract as `NativeAsOfJoin.joinAsOfBackward` / `joinAsOfForward`
  * with the default `asof_` prefix, except that the key columns lead
  * the output.
  *
  *  - ties (right.ts == left.ts) admit the right row: within a
  *    timestamp the right side sorts first (`__asof` 0 before 1);
  *  - forward mode orders the window by descending ts, so the running
  *    last() holds the smallest later right timestamp;
  *  - right rows sharing (keys, ts) resolve to the field-wise greatest
  *    payload struct (`__p` is the final tiebreaker), deterministic on
  *    every layout. Payload columns must be orderable (no maps).
  */
object ComposedAsOfJoin {

  def join(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      forward: Boolean = false): DataFrame = {
    val leftCols = left.columns
    // one struct carries the right payload through the union; the
    // running last() then needs a single ignoreNulls aggregate
    val rTagged = right.select(
      (keys.map(col) :+ col(rightTs).as("__ts") :+ lit(0).as("__asof") :+
        struct((rightTs +: payloadCols).distinct.map(col): _*).as("__p")): _*)
    val lTagged = left.select(
      (keys.map(col) ++ leftCols.filterNot(keys.contains).map(col) :+
        col(leftTs).as("__ts") :+ lit(1).as("__asof") :+
        lit(null).cast(rTagged.schema("__p").dataType).as("__p")): _*)
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val tsOrd = if (forward) col("__ts").desc else col("__ts").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrd, col("__asof").asc, col("__p").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__asof") === 1)
    val out = keys.map(col) ++
      leftCols.filterNot(keys.contains).map(col) ++
      (rightTs +: payloadCols).distinct.map(c =>
        col("__m").getField(c).as(s"asof_$c"))
    matched.select(out: _*)
  }
}
