package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate-pair generation for record linkage at corpus scale.
  *
  * The classic blocking join (equi-join on a hand-picked block key, then
  * score within blocks) is only scalable while block sizes track a DATA
  * property: a fixed-cardinality key (say nation × segment = 125 blocks
  * forever) makes candidate volume Σ block² grow QUADRATICALLY with the
  * corpus — correct at test scale, the exact blow-up LSH banding exists
  * to avoid at 100 TB. The two generators here bound candidates by data
  * properties instead:
  *
  *  - `candidatePairs`: deletion-neighborhood banding. Two strings with
  *    Levenshtein distance ≤ 2 always share a variant reachable by
  *    deleting ≤ 2 characters from each (take an optimal alignment and
  *    delete, on each side, the ≤ 2 characters touched by an edit — the
  *    surviving matched characters are equal). So an equi-join on the
  *    ≤2-deletion neighborhood is a COMPLETE blocking band for lev ≤ 2:
  *    nothing the downstream lev-≤-2 scorer would keep is lost, and
  *    candidate volume is Σ bucket² over variant buckets — buckets hold
  *    only names that are genuinely near-identical, independent of how
  *    many customers exist. The same pigeonhole shape as the SimHash /
  *    pHash band joins. Variant fan-out is 1 + P + P(P−1)/2 keys per
  *    name with P = min(length, bandPrefix) — 172 for the 18-char
  *    fixture names, and CAPPED at 211 (default P=20) for arbitrarily
  *    long fields via SymSpell's prefix trick (completeness for lev ≤ 2
  *    survives the cap; see `deletionBand`) — linear in corpus size,
  *    and the join key ships as an 8-byte hash (a hash collision can
  *    only ADD a candidate, which exact scoring then rejects).
  *
  *  - `sortedNeighborhoodPairs`: the standard alternative from the ER
  *    literature — order the corpus by a sort key, slide a fixed window
  *    of w rows, emit every in-window pair. Candidates are exactly
  *    (n−w/2)·(w−1) — linear in n by construction. The global rank comes
  *    from `Ids.contiguousRowIds` (range shuffle + per-partition prefix
  *    sums), never a single-partition window, and the in-window pairing
  *    is an equi-join on window buckets (each left row appears under its
  *    own bucket and the next, so every pair with rank distance < w
  *    meets in exactly one bucketed probe).
  *
  * Reference semantics: FLINK.NET has no record-linkage operator; this
  * backs the linkage/entity-resolution extension queries (q166, q175,
  * q193) whose Fellegi–Sunter scoring lives in the query layer.
  */
object Linkage {

  /** Default banding-slice length (see `DeletionBandExpr.DefaultPrefix`):
    * short key fields band on their full value, arbitrarily long inputs
    * pay a bounded 1 + P + P(P−1)/2 = 211 variant keys.
    */
  val DefaultBandPrefix: Int = DeletionBandExpr.DefaultPrefix

  /** All strings reachable by deleting at most 2 characters (including
    * the slice itself, deduplicated) from the first — or with `fromEnd`
    * the last — min(length, `prefix`) characters of `c`. The capped
    * slice is SymSpell's prefix trick: variant fan-out is O(P²)
    * regardless of string length, and completeness for lev ≤ 2 on the
    * FULL strings is preserved (boundary-crossing matched characters
    * are bounded by the opposite side's insertion count, so the two
    * slices still share a ≤2-deletion variant — argument spelled out in
    * [[DeletionBandExpr]]'s doc). Pick the slice that carries the
    * field's entropy (`fromEnd` for suffix-keyed corpora like the
    * fixture's `Customer#000000042` names — moot at the default P=20,
    * which covers them fully). Pure codegen'd higher-order functions —
    * no UDF in the scan.
    */
  def deletionBand(c: Column, prefix: Int = DefaultBandPrefix,
                   fromEnd: Boolean = false): Column = {
    require(prefix >= 1 && prefix <= DeletionBandExpr.MaxPrefix,
      s"deletion-band prefix must be in [1, ${DeletionBandExpr.MaxPrefix}], got $prefix")
    val full = length(c)
    val sliced =
      if (fromEnd) c.substr(greatest(full - lit(prefix) + lit(1), lit(1)), lit(prefix))
      else c.substr(lit(1), lit(prefix))
    deletionBandOfSlice(sliced)
  }

  private def deletionBandOfSlice(c: Column): Column = {
    val n = length(c)
    val none = array().cast("array<string>")
    // delete position i (1-based): prefix [1, i) ++ suffix (i, n]
    val del1 = when(n >= 1, transform(sequence(lit(1), n), i =>
      concat(c.substr(lit(1), i - lit(1)), c.substr(i + lit(1), n))))
      .otherwise(none)
    // delete positions i < j: three exact slices around the two holes
    val del2 = when(n >= 2, flatten(transform(sequence(lit(1), n - lit(1)), i =>
      transform(sequence(i + lit(1), n), j =>
        concat(c.substr(lit(1), i - lit(1)),
               c.substr(i + lit(1), j - i - lit(1)),
               c.substr(j + lit(1), n))))))
      .otherwise(none)
    array_distinct(concat(array(c), del1, del2))
  }

  /** Distinct candidate id pairs (`id_a` < `id_b`) whose `nameCol`
    * values share a ≤2-deletion variant AND agree on every column in
    * `blockCols` (semantic block predicates, e.g. the linkage rule's
    * same-nation/same-segment requirement — pass Nil for none). Complete
    * for any downstream scorer that requires lev(`nameCol`) ≤ 2.
    */
  def candidatePairs(df: DataFrame, idCol: String, nameCol: String,
                     blockCols: Seq[String],
                     maxBucket: Option[Int] = None,
                     bandPrefix: Int = DefaultBandPrefix,
                     bandFromEnd: Boolean = false): DataFrame = {
    // variants are hashed at GENERATION time and deduped as longs
    // (`DeletionBandExpr` — one native scan, zero allocation per
    // variant, vs the HOF substr/concat pyramid that dominated the
    // linkage bench); a hash collision can only merge two of one name's
    // variants into the same join key — never lose a shared key — so
    // completeness for lev ≤ 2 is untouched.
    val keyed = df
      .select(col(idCol) +: blockCols.map(col) :+
        explode(DeletionBandExpr(col(nameCol), bandPrefix, bandFromEnd))
          .as("band"): _*)
    maxBucket match {
      case Some(cap) =>
        // opt-in star-cap: the same LshGuard every LSH band join runs —
        // a degenerate-hot variant bucket (a corpus of near-identical
        // names) degrades to m−1 star edges instead of m²/2, and the
        // connected-component consumers (q175) resolve the cluster
        // through the representative exactly like near-dup dedup does.
        // Costs one hot-detection aggregation over the banded table, so
        // it is off by default: variant-bucket sizes are a DATA property
        // (how many truly near-identical names exist), already the
        // boundedness argument, and LinkageScaleSpec tracks it.
        // MATERIALIZED here: guardedCandidates probes the banded table
        // with an isEmpty action and then self-joins it (two concurrent
        // map stages) — without the eager fill each consumer re-derives
        // every variant of every name.
        graft.llm.LshGuard.guardedCandidates(
          keyed.transform(graft.core.Caching.materialize),
          blockCols :+ "band", idCol, cap, ordered = true)
          .select(col("id_a"), col("id_b"))
      case None =>
        // Pairs are generated INSIDE each variant bucket from one
        // grouped aggregation, not by self-joining the banded stream:
        // the old a⋈b shape shuffled the 211-variants-per-name table
        // TWICE (plus an eager materialize pass to stop the two join
        // map stages racing the cold cache fill — r16) where one
        // groupBy ships it once and needs no cache at all (r17: q166
        // fill 1.25 s + 2 × 0.67 s cache-read map stages → one 0.7 s
        // aggregation). The bucket's ids are collected as a SET: an id
        // on two input rows (duplicate ids) lands in a bucket once, so
        // the sorted set yields each unordered pair exactly once with
        // id_a < id_b and never (x, x) — the join's a < b filter. Bucket
        // state is bounded by the variant-bucket size — the SAME data
        // property that already bounds the join's Σ bucket² output;
        // degenerate-hot corpora use the maxBucket star-cap branch.
        val n = size(col("ids"))
        keyed
          .groupBy((blockCols :+ "band").map(col): _*)
          .agg(sort_array(collect_set(col(idCol))).as("ids"))
          .where(n >= 2)
          .select(explode(Pairs.inSorted(col("ids"), "id_a", "id_b",
            bothDirections = false)).as("pr"))
          // pairs sharing several variants collapse here; distinct runs
          // over candidate ids only (two longs), never the payload
          .select(col("pr.id_a"), col("pr.id_b"))
          .distinct()
    }
  }

  /** Sorted-neighborhood candidate id pairs: every (`id_a`, `id_b`)
    * whose global ranks under `ORDER BY sortCol` differ by 1..w−1, with
    * `id_a` the lower-ranked side. `sortCol` must be unique (ranks, and
    * so the pair set, are then deterministic). Also returns both ranks
    * so scorers can weight by window distance.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, sortCol: String,
                              w: Int): DataFrame = {
    require(w >= 2, s"window must cover at least one neighbor, got $w")
    val ranked = Ids.contiguousRowIds(
        df.select(col(idCol), col(sortCol)), orderCol = sortCol, idCol = "rn")
      .select(col(idCol), col("rn"),
        floor(col("rn") / lit(w)).cast("long").as("bk"))
    // rank distance < w ⇒ the pair spans adjacent w-buckets, so probing
    // the left row under {bk, bk+1} meets every in-window partner once
    val aKeys = ranked.select(col(idCol).as("id_a"), col("rn").as("rn_a"),
      explode(array(col("bk"), col("bk") + lit(1L))).as("jk"))
    val bKeys = ranked.select(col(idCol).as("id_b"), col("rn").as("rn_b"),
      col("bk").as("jk"))
    aKeys.join(bKeys, "jk")
      .filter((col("rn_b") - col("rn_a")).between(1, w - 1))
      .select(col("id_a"), col("id_b"), col("rn_a"), col("rn_b"))
  }
}
