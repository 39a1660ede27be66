package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-row pair expansion of a per-key `collect_list`/`collect_set`: the
  * pairs a key-equal self-join would produce, for one shuffle instead of
  * two. A group of k elements materializes up to C(k,2) pairs in one
  * row, so every call site bounds and states its group size. */
object Pairs {

  /** `array<pair>` of `pair(x, y)` for every index pair of `arr` with
    * `key(y) > key(x)`: duplicates (as `collect_list` keeps them) keep
    * their multiplicity, equal keys pair with nothing. */
  def ordered(arr: Column, key: Column => Column = identity)(
      pair: (Column, Column) => Column): Column =
    flatten(transform(arr, x =>
      transform(filter(arr, y => key(y) > key(x)), y => pair(x, y))))

  /** `(a, b, n)`: every pair a < b of the `arr` column of `sets` that
    * co-occurs in `n >= minGroups` rows (groups), counted like the
    * self-join, thresholded in the same aggregation. */
  def cooccurring(sets: DataFrame, arr: Column, minGroups: Int): DataFrame =
    sets
      .select(explode(ordered(arr)((x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minGroups)
}
