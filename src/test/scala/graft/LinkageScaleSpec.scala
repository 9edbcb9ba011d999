package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Linkage

/** ScaleSmoke for the record-linkage family (VERDICT r6 top item): the
  * one plan shape flagged as failing the 100× test was blocking on the
  * fixed-cardinality nation×segment key (125 blocks forever ⇒ candidate
  * pairs O((n/125)²), quadratic in corpus size). q166/q175 now block on
  * that key PLUS a ≤2-deletion name band (`Linkage.candidatePairs`), so
  * candidate volume is Σ variant-bucket² — bounded by how near-identical
  * names actually are, not by corpus size.
  *
  * Test design note: the check CANNOT be run naively as "double the
  * customer fixture, expect 2× candidates". TPC-H names are consecutive
  * zero-padded integers, so the small-SF corpus is degenerately dense in
  * GENUINE near-duplicates — the first test below measures that the true
  * lev ≤ 2 link set itself grows super-linearly under replication. A
  * complete candidate generator must emit at least the true links, so on
  * that corpus linear growth is information-theoretically impossible for
  * ANY correct blocking. The algorithmic property (candidates track the
  * data's near-dup density, not corpus²) is therefore proven on a
  * replicated corpus with realistic name entropy and planted duplicates,
  * with the retired fixed-cardinality blocking quadrupling on the same
  * input as the contrast.
  */
class LinkageScaleSpec extends AnyFunSuite {
  import TestSession._

  private val blockCols = Seq("c_nationkey", "c_mktsegment")

  private def customers = graft.core.Tables.customer(spark, sfDir)
    .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_mktsegment"))

  /** Fixture doubled the way a bigger generation run would: clone keys
    * shifted past the original range, clone names regenerated from the
    * clone key (the fixture's own Customer#%09d convention).
    */
  private def doubledCustomers = {
    val c = customers
    val maxKey = c.agg(max(col("c_custkey"))).head.getLong(0)
    val clone = c.select(
      (col("c_custkey") + lit(maxKey)).as("c_custkey"),
      concat(lit("Customer#"),
        lpad((col("c_custkey") + lit(maxKey)).cast("string"), 9, "0"))
        .as("c_name"),
      col("c_nationkey"), col("c_mktsegment"))
    c.unionByName(clone)
  }

  /** Ground truth: exact in-block lev ≤ 2 pair count via the naive
    * quadratic join (fine at spec scale).
    */
  private def trueLinks(df: DataFrame): Long = {
    val a = df.columns.foldLeft(df)((d, n) => d.withColumnRenamed(n, "a_" + n))
    val b = df.columns.foldLeft(df)((d, n) => d.withColumnRenamed(n, "b_" + n))
    a.join(b,
        col("a_c_nationkey") === col("b_c_nationkey") &&
        col("a_c_mktsegment") === col("b_c_mktsegment") &&
        col("a_c_custkey") < col("b_c_custkey"))
      .filter(levenshtein(col("a_c_name"), col("b_c_name")) <= 2)
      .count()
  }

  test("fixture replication is quadratic in TRUE links — why the linear " +
      "check needs realistic name entropy") {
    val t1 = trueLinks(customers)
    val t2 = trueLinks(doubledCustomers)
    info(s"true lev<=2 in-block links: $t1 -> $t2 (x${t2.toDouble / t1})")
    // consecutive-integer names: every small number is within 2 edits of
    // a constant fraction of the others, so doubling the corpus far more
    // than doubles the genuine matches (observed ~2.9×) — a complete
    // generator cannot be linear HERE, whatever its banding
    assert(t2 >= 2.5 * t1,
      "fixture lost its dense-near-dup character; revisit this spec's design")
  }

  /** Replicated corpus with realistic entropy: `n` records whose names
    * are hash-derived (effectively random 12-hex-char strings, pairwise
    * far apart in edit distance) plus a planted near-duplicate partner
    * for every 10th record (one substituted character ⇒ lev = 1). The
    * planted density is constant per record, so a data-bounded candidate
    * generator must grow linearly when the corpus is replicated to 2n.
    */
  private def synthetic(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).toDF("id")
      .select(col("id").cast("long").as("c_custkey"),
        // xxhash64 names: distinct, no shared structure beyond chance
        lower(hex(xxhash64(concat(lit("name-"), col("id"))))).as("base"),
        (col("id") % 25).as("c_nationkey"),
        (col("id") % 5).cast("string").as("c_mktsegment"))
      .select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0,
          // partner of id−1's name: substitute the first char ⇒ lev 1,
          // same block cols as id−1 so the pair is a genuine link
          concat(lit("z"), substring(
            lower(hex(xxhash64(concat(lit("name-"), col("c_custkey") - 1)))),
            2, 16)))
          .otherwise(col("base")).as("c_name"),
        when(col("c_custkey") % 10 === 0, (col("c_custkey") - 1) % 25)
          .otherwise(col("c_nationkey")).as("c_nationkey"),
        when(col("c_custkey") % 10 === 0,
          ((col("c_custkey") - 1) % 5).cast("string"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
  }

  test("deletion-band candidates grow ~linearly on an entropy-realistic " +
      "corpus; the retired fixed-block generator quadruples") {
    val n = 2000
    val c1 = synthetic(n)
    val c2 = synthetic(2 * n)
    val band1 = Linkage.candidatePairs(c1, "c_custkey", "c_name", blockCols).count()
    val band2 = Linkage.candidatePairs(c2, "c_custkey", "c_name", blockCols).count()
    info(s"deletion-band candidates: $band1 -> $band2 (x${band2.toDouble / band1})")
    assert(band1 >= n / 10,
      "the band must at least surface every planted duplicate pair")
    assert(band2 <= 2.6 * band1,
      s"candidate growth ${band2.toDouble / band1}x on a 2x corpus — the " +
        "band stopped bounding block sizes by a data property")
    def naive(df: DataFrame): Long =
      df.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("sz"))
        .agg(sum(expr("sz * (sz - 1) / 2")).cast("long")).head.getLong(0)
    val fix1 = naive(c1)
    val fix2 = naive(c2)
    info(s"fixed-block candidates: $fix1 -> $fix2 (x${fix2.toDouble / fix1})")
    assert(fix2 >= 3.4 * fix1,
      "the fixed-cardinality generator should quadruple on the same input")
  }

  test("deletion-band candidates on the real fixture cost at most a " +
      "constant factor over the true links they must contain") {
    // completeness lower-bounds candidates by the true link count; this
    // upper bound shows the band's overhead is a small constant on the
    // fixture (the fixed-block generator pays the FULL block cross
    // product instead), at base and doubled scale
    for ((df, tag) <- Seq((customers, "base"), (doubledCustomers, "2x"))) {
      val cand = Linkage.candidatePairs(df, "c_custkey", "c_name", blockCols).count()
      val truth = trueLinks(df)
      info(s"$tag: candidates $cand vs true links $truth " +
        f"(overhead x${cand.toDouble / truth}%.2f)")
      assert(cand >= truth, "completeness: every true link is a candidate")
      assert(cand <= 8.0 * truth,
        "candidate overhead over ground truth stopped being a small constant")
    }
  }

  test("duplicate ids never yield a self-pair; pairs stay distinct with id_a < id_b") {
    import spark.implicits._
    // id 1 on three rows (an exact duplicate and a second name), id 2
    // near id 1's names, id 3 near them too but in another block
    val c = Seq(
      (1L, "Customer#000000001", 1L, "A"), (1L, "Customer#000000001", 1L, "A"),
      (1L, "Customer#000000002", 1L, "A"), (2L, "Customer#000000003", 1L, "A"),
      (3L, "Customer#000000001", 2L, "A"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val pairs = Linkage.candidatePairs(c, "c_custkey", "c_name", blockCols)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs === Seq((1L, 2L)), s"got $pairs")
  }

  test("opt-in star-capped candidates equal the exhaustive join below the cap") {
    val exhaustive = Linkage.candidatePairs(customers, "c_custkey", "c_name",
      blockCols).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Linkage.candidatePairs(customers, "c_custkey", "c_name",
      blockCols, maxBucket = Some(10000)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === exhaustive,
      "no bucket approaches the cap at spec scale, so the guard must be a no-op")
  }

  test("DeletionBandExpr hashes equal xxhash64 over the HOF deletion band " +
      "— incl. astral chars and every (prefix, fromEnd) slicing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, transform, xxhash64}
    // the astral samples (emoji, Linear B) are the ADVICE r7 gap: the
    // native path must delete CODE POINTS like Spark's substr does, not
    // UTF-16 units, or the two formulations band differently
    val samples = Seq("", "a", "ab", "aab", "Customer#000000042",
      "héllo wörld", "日本語テスト", "spark",
      "😀x", "a😀b𐀀c",
      "😀😁😂 long astral tail 𐀀")
    val df = samples.toDF("s")
    for ((prefix, fromEnd) <- Seq((20, false), (20, true), (4, false),
        (4, true), (1000, false))) {
      val got = df.select(col("s"),
          graft.operators.DeletionBandExpr(col("s"), prefix, fromEnd).as("h"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
      val ref = df.select(col("s"),
          transform(Linkage.deletionBand(col("s"), prefix, fromEnd),
            v => xxhash64(v)).as("h"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
      samples.foreach(s =>
        assert(got(s) === ref(s),
          s"band mismatch for '$s' at prefix=$prefix fromEnd=$fromEnd"))
    }
  }

  /** Long-string corpus for the prefix cap (VERDICT r7 #1): 80-char
    * names — 16 entropy-bearing hex chars then a constant 64-char tail
    * (title-like shape: distinguishing head, boilerplate tail) — with a
    * planted lev=1 partner for every 10th record. Uncapped banding
    * would pay 1 + 80 + 80·79/2 = 3241 variant keys per row; the
    * default P=20 cap pays ≤ 211, and completeness (the planted links)
    * must be unaffected because both slices still share a ≤2-deletion
    * variant.
    */
  private def longStringCorpus(n: Int): DataFrame = {
    val tail = "x" * 64
    spark.range(1, n + 1).toDF("id")
      .select(col("id").cast("long").as("c_custkey"),
        lower(hex(xxhash64(concat(lit("doc-"), col("id"))))).as("base"),
        (col("id") % 25).as("c_nationkey"),
        (col("id") % 5).cast("string").as("c_mktsegment"))
      .select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0,
          concat(lit("z"), substring(
            lower(hex(xxhash64(concat(lit("doc-"), col("c_custkey") - 1)))),
            2, 16), lit(tail)))
          .otherwise(concat(col("base"), lit(tail))).as("c_name"),
        when(col("c_custkey") % 10 === 0, (col("c_custkey") - 1) % 25)
          .otherwise(col("c_nationkey")).as("c_nationkey"),
        when(col("c_custkey") % 10 === 0,
          ((col("c_custkey") - 1) % 5).cast("string"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
  }

  test("prefix cap bounds per-row variant fan-out on 80-char strings " +
      "with recall unchanged") {
    val c = longStringCorpus(1500)
    // per-row band-key count under the default cap: hard O(P²) bound,
    // ~15× below what the uncapped enumeration would emit
    val maxKeys = c.select(size(graft.operators.DeletionBandExpr(
        col("c_name"))).as("k"))
      .agg(max(col("k"))).head.getInt(0)
    info(s"max band keys/row at 80 chars: $maxKeys (uncapped would be 3241)")
    assert(maxKeys <= 1 + 20 + 20 * 19 / 2,
      "the default prefix cap must bound variant fan-out at 211 keys")
    // recall: every planted lev=1 pair must still be a candidate, and
    // the exact scorer keeps exactly the true link set
    val cand = Linkage.candidatePairs(c, "c_custkey", "c_name", blockCols)
    val a = c.select(col("c_custkey").as("id_a"), col("c_name").as("n_a"))
    val b = c.select(col("c_custkey").as("id_b"), col("c_name").as("n_b"))
    val links = cand.join(a, "id_a").join(b, "id_b")
      .filter(levenshtein(col("n_a"), col("n_b")) <= 2).count()
    val truth = trueLinks(c)
    info(s"links through capped band: $links, exhaustive truth: $truth")
    assert(links === truth,
      "prefix-capped banding lost a true link — completeness broken")
    val candN = cand.count()
    info(s"candidates: $candN for $truth true links")
    assert(candN <= 8 * math.max(truth, 1),
      "candidate overhead stopped being a small constant under the cap")
  }

  test("bandFromEnd recovers recall when the entropy is suffix-loaded") {
    // mirror corpus of the long-string test: constant 64-char HEAD,
    // distinguishing hex TAIL (the TPC-H c_name shape at scale) — a
    // front slice is one giant shared bucket; the fromEnd slice bands
    // on the entropy and keeps candidates ~= true links
    val head = "x" * 64
    val c = spark.range(1, 1201).toDF("id")
      .select(col("id").cast("long").as("c_custkey"),
        lower(hex(xxhash64(concat(lit("sfx-"), col("id"))))).as("base"),
        (col("id") % 25).as("c_nationkey"),
        (col("id") % 5).cast("string").as("c_mktsegment"))
      .select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0,
          concat(lit(head), lit("z"), substring(
            lower(hex(xxhash64(concat(lit("sfx-"), col("c_custkey") - 1)))),
            2, 16)))
          .otherwise(concat(lit(head), col("base"))).as("c_name"),
        when(col("c_custkey") % 10 === 0, (col("c_custkey") - 1) % 25)
          .otherwise(col("c_nationkey")).as("c_nationkey"),
        when(col("c_custkey") % 10 === 0,
          ((col("c_custkey") - 1) % 5).cast("string"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    val cand = Linkage.candidatePairs(c, "c_custkey", "c_name", blockCols,
      bandFromEnd = true)
    val a = c.select(col("c_custkey").as("id_a"), col("c_name").as("n_a"))
    val b = c.select(col("c_custkey").as("id_b"), col("c_name").as("n_b"))
    val links = cand.join(a, "id_a").join(b, "id_b")
      .filter(levenshtein(col("n_a"), col("n_b")) <= 2).count()
    val truth = trueLinks(c)
    info(s"fromEnd links $links vs exhaustive truth $truth")
    assert(links === truth,
      "suffix banding lost a true link on a suffix-entropy corpus")
    val candN = cand.count()
    info(s"fromEnd candidates $candN for $truth true links")
    assert(candN <= 8 * math.max(truth, 1),
      "suffix banding stopped bounding candidates on a suffix-entropy corpus")
  }

  test("sorted-neighborhood candidates are exactly linear by construction") {
    val w = 10
    def count1(df: DataFrame): Long =
      Linkage.sortedNeighborhoodPairs(df, "c_custkey", "c_name", w).count()
    val base = customers
    val n = base.count()
    val got = count1(base)
    // Σ_{d=1}^{w−1} (n−d) in-window pairs for n rows
    val expected = (1 until w).map(d => n - d).sum
    assert(got === expected, "in-window pair census is closed-form")
    val got2 = count1(doubledCustomers)
    val expected2 = (1 until w).map(d => 2 * n - d).sum
    assert(got2 === expected2, "pair count stays closed-form at 2x corpus")
  }
}
