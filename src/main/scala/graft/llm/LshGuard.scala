package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hot-bucket guard for LSH bucket self-joins.
  *
  * Every LSH candidate generator in this package joins a banded table to
  * itself on (band, bucket): cost Σ bucket². That sum is bounded only while
  * the LARGEST bucket is — one degenerate bucket (empty documents,
  * boilerplate headers, zero vectors all hashing identically) turns the
  * self-join quadratic at 100 TB no matter how good the banding is.
  *
  * The guard splits buckets at `maxBucket` members:
  *
  *  - cold buckets (≤ maxBucket) pair exhaustively — the normal LSH path,
  *    bit-identical results for non-degenerate data;
  *  - hot buckets (> maxBucket) pair each member with the bucket's min-id
  *    REPRESENTATIVE only: m−1 star edges instead of m(m−1)/2. Downstream
  *    exact verification (Jaccard / cosine / Hamming) still runs on every
  *    emitted edge.
  *
  * Semantics of the star fallback: a bucket only goes hot when ~identical
  * keys collide en masse, which at corpus scale means an exact-duplicate
  * blob. Star edges keep every member CONNECTED to the blob (connected-
  * component dedup resolves the whole cluster, each member still surfaces
  * a candidate for ANN/nearest), while exhaustive enumeration of a
  * quadratic pair set nobody can materialize is intentionally dropped.
  * Members of a hot bucket that are merely band-colliding with the blob
  * can lose pairs not routed through the representative — the standard
  * recall trade every production dedup system makes (cap/salt/split).
  *
  * The hot-bucket list is derived with one narrow groupBy-count on the
  * banded table; AQE broadcasts it when (as expected) it is tiny. No
  * broadcast hint: if a pathological corpus produces millions of hot
  * buckets the join degrades to shuffle, not OOM.
  */
object LshGuard {

  /** Candidate pairs (`id_a`, `id_b`) from a banded table, hot buckets
    * star-capped.
    *
    * @param banded    one row per (id, bucket-key...) — band membership
    * @param keyCols   bucket key columns, e.g. ("band", "bucket")
    * @param idCol     member id column
    * @param maxBucket buckets above this size use the star fallback
    * @param ordered   true → emit id_a < id_b once (pair semantics);
    *                  false → emit both directions (per-query candidates)
    */
  def guardedCandidates(banded: DataFrame, keyCols: Seq[String], idCol: String,
                        maxBucket: Int, ordered: Boolean): DataFrame = {
    require(maxBucket >= 2, "maxBucket must allow at least one pair")
    val keys = keyCols.map(col)
    // Pairs generated INSIDE each bucket from one grouped aggregation,
    // not by self-joining the banded stream (r17, the Linkage/co-edge
    // rewrite, §2.4): the a⋈b shape shuffled the banded table TWICE and
    // probed a hash relation per row where one groupBy ships it once —
    // and the second groupBy's exchange is the SAME (keys-partitioned)
    // exchange the hot census above it already ran, so AQE reuses it.
    // Per-bucket list state is SAFE here precisely because the census
    // runs first: every bucket this sees is ≤ maxBucket members (the
    // fast path verified no bucket is hot; the cold branch filtered the
    // hot ones out), so the collect_list buffer is cap-bounded. Sorted
    // positions i < j enumerate each pair once with id_a ≤ id_b; the
    // strict filters reproduce the join's a < b / a =!= b semantics
    // exactly, including for callers whose banded rows can repeat an
    // (id, key) row.
    def bucketPairs(t: DataFrame): DataFrame = {
      val n = size(col("ids"))
      val base = t.groupBy(keys: _*)
        .agg(sort_array(collect_list(col(idCol))).as("ids"))
        .where(n >= 2)
      base.select(explode(graft.operators.Pairs.inSorted(col("ids"),
          "id_a", "id_b", bothDirections = !ordered)).as("pr"))
        .select(col("pr.id_a"), col("pr.id_b"))
        .where(if (ordered) col("id_a") < col("id_b")
          else col("id_a") =!= col("id_b"))
    }
    // persisted: the isEmpty probe below materializes it, and in the hot
    // branch it feeds THREE downstream subtrees (flag join, hotRows, reps)
    // that would each re-run the count aggregation over `banded` otherwise.
    // In the hot branch the cache intentionally outlives this call (the
    // returned plan still references it lazily; there is no post-action
    // unpersist hook) — long-lived sessions reclaim it via clearCache(),
    // and it is bounded by the hot-bucket LIST (keys only), not the data
    val hot = banded.groupBy(keys: _*).agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)
      .select(keyCols.map(col) :+ lit(true).as("is_hot"): _*)
      .transform(graft.core.Caching.persist)
    // Fast path — the common case. One linear count-aggregation (map-side
    // partials, tiny output) decides; with no hot bucket the self-join
    // runs directly against the (persisted) banded table, zero extra
    // joins. The guard only costs real work when it is actually saving
    // quadratic work.
    if (hot.isEmpty) { hot.unpersist(); return bucketPairs(banded).distinct() }

    val flagged = banded.join(hot, keyCols, "left")
    val cold = flagged.where(col("is_hot").isNull).drop("is_hot")
    val hotRows = flagged.where(col("is_hot")).drop("is_hot")
    val coldPairs = bucketPairs(cold)
    // Star edges: every member ↔ the bucket's min-id representative.
    // min(id) < id for every non-rep member, so ordered pairs are (rep, x).
    val reps = hotRows.groupBy(keys: _*).agg(min(col(idCol)).as("rep"))
    val starBase = hotRows.join(reps, keyCols)
      .where(col(idCol) =!= col("rep"))
    val starPairs =
      if (ordered) starBase.select(col("rep").as("id_a"), col(idCol).as("id_b"))
      else starBase.select(col("rep").as("id_a"), col(idCol).as("id_b"))
        .union(starBase.select(col(idCol).as("id_a"), col("rep").as("id_b")))

    coldPairs.union(starPairs).distinct()
  }
}
