package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew-handling patterns (north_rule: "skew handled explicitly"
  * — AQE skew-join splitting is left enabled globally; these are the
  * planner-independent tools for known-hot keys).
  */
object Skew {

  /** Two-phase salted aggregation: count per key where one key may carry
    * a large share of all rows (hot entities — e.g. a high-frequency PER
    * mention). Phase 1 aggregates (key, salt) — spreading a hot key over
    * `salts` reducers — phase 2 merges the partials. Result is identical
    * to a direct groupBy(key).count().
    */
  def saltedCount(df: DataFrame, key: Column, salts: Int): DataFrame =
    df.groupBy(key.as("k"), pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(salts)).as("salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy("k")
      .agg(sum("partial").as("n"))
}
