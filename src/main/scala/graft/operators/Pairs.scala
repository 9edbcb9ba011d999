package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** In-bucket pair generation: the grouped-aggregation alternative to a
  * self-join on the bucket key. A caller collects each bucket's members
  * into one sorted array and explodes [[Pairs.inSorted]] over it, so the
  * bucket's rows shuffle once instead of feeding both sides of a join.
  *
  * The pair array of an n-member bucket holds n(n−1)/2 structs (twice
  * that in both directions) in ONE row, so every caller bounds its
  * buckets first — a census, a support filter or a basket-size property.
  */
object Pairs {

  /** All pairs of array positions i < j of `arr`, as structs
    * (`nameA` = arr[i], `nameB` = arr[j]); with `bothDirections` each
    * position pair also yields the swapped struct right after it. Over a
    * sorted array, values then satisfy a ≤ b in the one-direction form;
    * callers filter a < b (or a ≠ b) themselves where the array can
    * repeat a value. Needs size(arr) ≥ 2: `sequence(1, 0)` counts down.
    */
  def inSorted(arr: Column, nameA: String, nameB: String,
               bothDirections: Boolean): Column = {
    val n = size(arr)
    def pair(i: Column, j: Column): Column =
      struct(element_at(arr, i).as(nameA), element_at(arr, j).as(nameB))
    if (bothDirections)
      flatten(transform(sequence(lit(1), n - 1), i =>
        flatten(transform(sequence(i + 1, n), j =>
          array(pair(i, j), pair(j, i))))))
    else
      flatten(transform(sequence(lit(1), n - 1), i =>
        transform(sequence(i + 1, n), j => pair(i, j))))
  }
}
