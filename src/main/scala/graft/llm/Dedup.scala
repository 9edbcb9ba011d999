package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextFunctions._

/** Deduplication operators: exact (fingerprint groupBy), MinHash+LSH
  * near-dup (shingle → minhash → band → bucket-join), SimHash, and exact
  * n-gram Jaccard verification.
  *
  * Scale design (the 100 TB path):
  *  - signatures/bands are per-row Column expressions — one narrow map
  *    stage, no UDFs;
  *  - candidate generation joins on (band_id, band_hash) buckets, so cost is
  *    Σ bucket² instead of n² — the ONLY join key that ever shuffles is the
  *    band hash, and the shuffle carries (doc_id, band) pairs, not text;
  *  - exact Jaccard runs only on LSH candidates (a tiny fraction), joining
  *    token sets back by doc_id;
  *  - band/row counts tune precision: P(candidate) = 1-(1-s^r)^b.
  */
object Dedup {

  /** Word n-gram shingles over the token array (empty when too short). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        j => concat_ws(" ", slice(toks, j, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Native one-scan text→shingles (ShinglesExpr); same semantics as
    * `shingles(tokens(text), n)`, ~10× cheaper on the hot paths.
    */
  def shinglesText(text: Column, n: Int): Column = ShinglesExpr(text, n)

  /** MinHash signature: k independent seeded hashes, each the min over the
    * shingle set.
    *
    * Hot-path engineering: one md5 digest yields FOUR independent 32-bit
    * hashes (8-hex-char slices), so k hashes cost k/4 digests per shingle;
    * and the min is taken over the fixed-width lowercase-hex STRINGS —
    * lexicographic order equals numeric order — skipping per-shingle
    * hex→long conversion entirely. Cuts signature cost ~8× at any scale.
    * Returns array<string> of 8-hex-char minima.
    */
  def minhashSignature(sh: Column, k: Int): Column = MinHashSignatureExpr(sh, k)

  /** Reference HOF formulation of the signature — semantically identical to
    * the native expression (the spec asserts equality); kept for
    * documentation and as the cross-check.
    */
  def minhashSignatureHof(sh: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(sh,
        s => md5(concat((i / 4).cast("int").cast("string"), lit("|"), s))
          .substr((i % 4) * lit(8) + 1, lit(8)))))

  /** Numeric view of a signature element (for inspection outputs). */
  def minhashValue(hex: Column): Column = conv(hex, 16, 10).cast("long")

  /** Exact Jaccard over two pre-distinct shingle arrays:
    * |∩| / (|a| + |b| − |∩|). Native single-pass expression
    * ([[JaccardExpr]] — value-identical to the HOF
    * `size(array_intersect)/…` form on pre-distinct inputs, incl. the
    * final double division) whose named node the injected
    * [[graft.plans.JaccardSizeRatioRule]] recognizes to attach the free
    * size-ratio prefilter to threshold predicates.
    */
  def jaccard(a: Column, b: Column): Column = JaccardExpr(a, b)

  /** HOF reference form of [[jaccard]] (spec cross-check only). */
  private[graft] def jaccardHof(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(a) + size(b) - inter
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni)
  }

  /** SimHash over the token bag (frequency-weighted majority vote per
    * bit; up to 64 bits). Near-dup candidates are rows with small Hamming
    * distance. More bits ⇒ more discriminative: 16 suits small
    * vocabularies, 64 is the scale default — wide enough for 16-bit
    * pigeonhole bands. Native single-pass expression (SimHashExpr).
    */
  def simhash(toks: Column, bits: Int): Column = SimHashExpr(toks, bits)

  /** Column-composed reference form (spec cross-check; re-evaluates the
    * token-hash transform per bit term — use `simhash` in pipelines).
    */
  def simhashHof(toks: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 32)
    val hashes = transform(toks,
      t => conv(substring(md5(concat(lit("0|"), t)), 1, 8), 16, 10).cast("long"))
    (0 until bits).map { b =>
      val setCnt = size(filter(hashes, h => (shiftright(h, b).bitwiseAND(lit(1L))) === lit(1L)))
      when(setCnt * 2 > size(hashes), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def simhash16(toks: Column): Column = simhash(toks, 16)

  def hamming(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftright(a.bitwiseXOR(b), i).bitwiseAND(lit(1L))
    }.reduce(_ + _)

  /** SimHash near-duplicate pairs with Hamming distance ≤ `maxHamming`
    * over a 64-bit simhash. Candidate generation uses the pigeonhole
    * principle: split the hash into 4 16-bit bands — any pair within
    * Hamming distance 3 must agree on at least one band — and join on
    * (band_index, band_value) buckets. Σ bucket² work, never n²; the
    * exact Hamming filter (codegen'd popcount on the XOR) runs on
    * candidates only.
    *
    * Scale posture: 16-bit bands give 65,536 buckets per band (4×65,536
    * total), so bucket population — and with it the quadratic self-join
    * term — is 256× smaller than the 8-bit banding of a 32-bit hash.
    * SimHash banding is inherently bounded by hash width; past the point
    * where n/65,536 per-bucket rows get expensive, recursive band
    * splitting (re-band within oversized buckets on the remaining bits)
    * or the MinHash-LSH path (bucket ids are full hashes — unbounded
    * count) is the next step.
    */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3,
                            maxBucket: Int = 10000): DataFrame = {
    require(maxHamming <= 3, "4 bands guarantee recall only for distance <= 3")
    val hashed = docs
      .select(col(idCol).as("doc_id"), simhash(tokens(col(textCol)), 64).as("sh"))
      // materialize, not just persist: the guard's self-join sides and
      // the two attribute joins are submitted concurrently and would
      // each recompute the cold simhash pass (r16 JobProfile)
      .transform(graft.core.Caching.materialize)
    val banded = hashed.select(col("doc_id"),
        explode(sequence(lit(0), lit(3))).as("band"), col("sh"))
      .select(col("doc_id"), col("band"),
        expr("shiftrightunsigned(sh, band * 16) & 65535").as("bandval"))
    val cand = LshGuard.guardedCandidates(banded, Seq("band", "bandval"),
      "doc_id", maxBucket, ordered = true)
    cand
      .join(hashed.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(hashed.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** (doc_id, band, bucket) minhash-LSH band membership rows — pure
    * column expressions over (id, text) with no shuffle, so the SAME
    * banding drives the batch bucket self-join and streaming bucket
    * state ([[graft.streaming.StreamingNearDup]]).
    */
  def bandMembership(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int, k: Int, bands: Int): DataFrame =
    bandsFromShingles(
      docs.select(col(idCol).as("doc_id"),
          shinglesText(col(textCol), shingleN).as("sh"))
        .where(size(col("sh")) > 0),
      k, bands)

  /** Bands from an existing (doc_id, sh) shingle frame — lets callers that
    * also need the shingle sets (exact-Jaccard confirmation) shingle the
    * corpus ONCE instead of once per consumer.
    */
  private[graft] def bandsFromShingles(sh: DataFrame, k: Int,
                                       bands: Int): DataFrame = {
    require(k % bands == 0, "signature length must divide into bands")
    val rpb = k / bands
    sh
      .select(col("doc_id"), minhashSignature(col("sh"), k).as("mh"))
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"), col("mh"))
      .select(col("doc_id"), col("band"),
        md5(concat_ws(",", slice(col("mh"), col("band") * rpb + 1, lit(rpb))))
          .as("bucket"))
  }

  /** End-to-end near-duplicate pairs: shingle → minhash → LSH buckets →
    * bucket self-join → exact-Jaccard confirmation ≥ `threshold`.
    * Returns (doc_a, doc_b, jac).
    */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, k: Int = 8,
                         bands: Int = 4, threshold: Double = 0.5,
                         maxBucket: Int = 10000): DataFrame = {
    // shingled ONCE, persisted: feeds the banding below AND the
    // exact-Jaccard confirmation join — the shingle pass is the measured
    // hot path (native ShinglesExpr), not worth running twice
    val sh = docs.select(col(idCol).as("doc_id"),
      shinglesText(col(textCol), shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      .transform(graft.core.Caching.persist)
    // The banded signature table is MATERIALIZED (persist) before the
    // self-join: otherwise each join side re-derives every signature —
    // and the optimizer collapses the projection pipeline into a shape
    // that re-hashes per band row (measured 8× slower). Real LSH
    // pipelines checkpoint signatures for exactly this reason; the table
    // is O(n·bands) narrow rows (ids + 32-char bucket), cheap to hold
    // and spillable at any scale.
    val banded = bandsFromShingles(sh, k, bands)
      // EAGER fill (r16): the guard's bucket census and the self-join's
      // two map stages are submitted concurrently — a cold cache makes
      // each recompute the signature pipeline; one count pass fills it
      // (and the upstream `sh` cache) at full parallelism instead
      .transform(graft.core.Caching.materialize)
    val cand = LshGuard.guardedCandidates(banded, Seq("band", "bucket"),
        "doc_id", maxBucket, ordered = true)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    // Exact verification touches ONLY candidate documents: semi-join the
    // shingle sets down to the candidate id set (small by construction),
    // persist that subset, then resolve both pair sides from it.
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val candSh = sh.join(candIds, "doc_id")
      .transform(graft.core.Caching.persist)
    cand
      .join(candSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(candSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** Incremental near-dup screen: LSH-band candidates of NEW documents
    * against an existing REFERENCE corpus only — never ref×ref or
    * new×new — the production ingestion shape ([[graft.streaming.StreamingNearDup]]
    * is its streaming twin). The reference is shingled/banded like an
    * index build; each new batch joins band-for-band, so per-batch cost
    * is Σ over shared buckets of |new_bucket|·|ref_bucket| — candidates
    * only where the index already has near-identical content — and the
    * exact-Jaccard verify touches candidate documents alone. Reference
    * buckets over `maxBucket` degrade to their min-id representative
    * (the LshGuard star contract; output equals the uncapped screen
    * while every bucket stays below the cap — LshCapHeadroomSpec pins
    * the headroom at the oracle-verified scales). Returns
    * (new_id, ref_id, jac) with jac ≥ `threshold`.
    */
  def incrementalNearDuplicates(refDocs: DataFrame, newDocs: DataFrame,
                                idCol: String, textCol: String,
                                shingleN: Int = 3, k: Int = 8,
                                bands: Int = 4,
                                threshold: Double = 0.5,
                                maxBucket: Int = 10000): DataFrame = {
    def prep(d: DataFrame) = d.select(col(idCol).as("doc_id"),
        shinglesText(col(textCol), shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      // eager fill: the band build and the capped join consume each
      // side from concurrent stages (r16)
      .transform(graft.core.Caching.materialize)
    val refSh = prep(refDocs)
    val newSh = prep(newDocs)
    val refB = bandsFromShingles(refSh, k, bands)
      .select(col("doc_id").as("ref_id"), col("band"), col("bucket"))
    val newB = bandsFromShingles(newSh, k, bands)
      .select(col("doc_id").as("new_id"), col("band"), col("bucket"))
    // hot-bucket backstop, same contract as every other band join
    // (LshGuard): a reference bucket over `maxBucket` (boilerplate
    // content) degrades to its min-id REPRESENTATIVE row, so an
    // arriving batch still surfaces the boilerplate link but the join
    // pays |new_bucket| instead of |new_bucket|·|hot_ref_bucket|.
    // Below the cap the output equals the uncapped screen exactly.
    val refCapped = refB
      .join(refB.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bn"), min(col("ref_id")).as("rep")),
        Seq("band", "bucket"))
      .where(col("bn") <= maxBucket || col("ref_id") === col("rep"))
      .select(col("ref_id"), col("band"), col("bucket"))
    val cand = newB.join(refCapped, Seq("band", "bucket"))
      .select(col("new_id"), col("ref_id")).distinct()
    cand
      .join(refSh.select(col("doc_id").as("ref_id"), col("sh").as("sh_r")), "ref_id")
      .join(newSh.select(col("doc_id").as("new_id"), col("sh").as("sh_n")), "new_id")
      .select(col("new_id"), col("ref_id"),
        jaccard(col("sh_n"), col("sh_r")).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** Exact pairwise n-gram Jaccard within a partition key, inverted-index
    * formulation: explode shingles, self-join on (group, shingle) to count
    * intersections, derive |union| from set sizes. Replaces per-pair array
    * intersection with codegen'd hash joins — and pairs sharing zero
    * shingles never materialize at all. Shuffle cost is Σ bucket² over
    * (group, shingle) buckets, the classic scalable shape.
    */
  /** Shared inverted-index core: overlapping pairs within a partition key
    * with intersection and set sizes — (doc_a, doc_b, n_common, sz_a,
    * sz_b), doc_a < doc_b. Zero-overlap pairs never materialize; shuffle
    * cost is Σ bucket² over (group, shingle) keys.
    */
  private def shingleOverlapPairs(docs: DataFrame, idCol: String,
                                  textCol: String, partitionCol: String,
                                  shingleN: Int): DataFrame = {
    val d = docs.select(col(partitionCol).as("grp"), col(idCol).as("doc_id"),
        shinglesText(col(textCol), shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      // consumed twice (sizes + exploded index) by CONCURRENT stages:
      // eager fill, or each map stage recomputes the shingle pass (r16)
      .transform(graft.core.Caching.materialize)
    val sizes = d.select(col("doc_id"), size(col("sh")).as("sz"))
    val ex = d.select(col("grp"), col("doc_id"), explode(col("sh")).as("s"))
    ex.as("a").join(ex.as("b"),
        col("a.grp") === col("b.grp") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
  }

  def jaccardPairsWithin(docs: DataFrame, idCol: String, textCol: String,
                         partitionCol: String, shingleN: Int,
                         threshold: Double): DataFrame =
    shingleOverlapPairs(docs, idCol, textCol, partitionCol, shingleN)
      .select(col("doc_a"), col("doc_b"),
        (col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common"))).as("jac"))
      .where(col("jac") >= threshold)

  /** Asymmetric shingle CONTAINMENT within a partition key: how much of
    * the smaller document's shingle set appears in the larger's —
    * |A ∩ B| / min(|A|, |B|). Catches partial copies (a doc quoting most
    * of another) that symmetric Jaccard misses: a 100-shingle doc fully
    * inside a 10,000-shingle doc scores containment 1.0 but Jaccard 0.01.
    * Same inverted-index shape as jaccardPairsWithin — zero-overlap pairs
    * never materialize, Σ bucket² over (group, shingle) keys.
    * Emits (doc_a, doc_b, n_common, containment) for pairs ≥ `threshold`,
    * doc_a < doc_b.
    */
  def containmentPairsWithin(docs: DataFrame, idCol: String, textCol: String,
                             partitionCol: String, shingleN: Int,
                             threshold: Double): DataFrame =
    shingleOverlapPairs(docs, idCol, textCol, partitionCol, shingleN)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double")).as("containment"))
      .where(col("containment") >= threshold)

  /** Prefix-filtered all-pairs similarity join (the AllPairs/PPJoin
    * family: Bayardo et al. WWW'07, Xiao et al. WWW'08) — the scale rung
    * ABOVE the full inverted index of [[jaccardPairsWithin]]. Instead of
    * indexing every shingle of every document (shuffle Σ bucket² over ALL
    * tokens), each document indexes only its PREFIX under a global
    * rarest-first token order: sorted by ascending document frequency,
    * the first `|x| − ⌈t·|x|⌉ + 1` tokens. The prefix-filter theorem
    * guarantees any pair with Jaccard ≥ t shares at least one prefix
    * token, so candidates shrink to Σ bucket² over RARE tokens only —
    * the frequent-token buckets that dominate the full index's cost
    * (stopword shingles, boilerplate) never enter the self-join. A
    * length filter (`t·|a| ≤ |b|`) prunes the survivors further before
    * the exact verification join. Output identical to
    * [[jaccardPairsWithin]]: (doc_a, doc_b, jac), doc_a < doc_b,
    * jac ≥ threshold — the spec asserts set-equality of the two paths.
    *
    * Scale posture: two extra narrow aggregations (token df, per-doc
    * sort) buy a candidate set bounded by rare-token co-occurrence;
    * per-doc state is its own shingle array (docs are KB-scale), and no
    * stage holds more than (group, token) bucket rows.
    */
  def prefixJaccardPairsWithin(docs: DataFrame, idCol: String,
                               textCol: String, partitionCol: String,
                               shingleN: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    val d = docs.select(col(partitionCol).as("grp"), col(idCol).as("doc_id"),
        shinglesText(col(textCol), shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      // consumed three times (df counts, prefix build, exact verify) by
      // concurrent stages: eager fill (r16)
      .transform(graft.core.Caching.materialize)
    val ex = d.select(col("grp"), col("doc_id"), explode(col("sh")).as("s"))
    // document frequency per (group, token): the order key. Rarest-first
    // prefixes make candidate buckets as small as possible; ties break on
    // the token string so the total order is deterministic on any engine.
    val df = ex.groupBy(col("grp"), col("s")).agg(count(lit(1)).as("df"))
    // per-doc tokens sorted (df asc, token asc); prefix keeps the first
    // sz − ceil(t·sz) + 1 — sort_array on struct(df, s) gives exactly
    // that order without any window or per-group ranking pass
    val ordered = ex.join(df, Seq("grp", "s"))
      .groupBy(col("grp"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ts"))
      .select(col("grp"), col("doc_id"),
        transform(col("ts"), t => t.getField("s")).as("toks"),
        size(col("ts")).as("sz"))
    val pref = ordered.select(col("grp"), col("doc_id"), col("sz"),
      explode(slice(col("toks"), lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz")) + lit(1)).cast("int")))
        .as("s"))
    // candidates: prefix-token co-occurrence + the length filter
    // (|b| ≥ t·|a| is necessary for jac ≥ t when |a| ≤ |b|)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.grp") === col("b.grp") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id") &&
          least(col("a.sz"), col("b.sz")).cast("double") >=
            lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.grp").as("grp"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verification on the candidate set only
    val full = d.select(col("doc_id"), col("sh"), size(col("sh")).as("sz"))
    cand
      .join(full.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(full.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          (col("sz_a") + col("sz_b") -
            size(array_intersect(col("sh_a"), col("sh_b"))))).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** Exact dedup: keep the lowest id per normalized-text fingerprint. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.withColumn("fp", fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Connected components over an undirected near-duplicate edge list:
    * resolves PAIRS into CLUSTERS so curation keeps exactly one document
    * per transitive duplicate group (pairwise drop-the-higher-id keeps two
    * survivors from {1-9, 5-9}; the cluster view keeps only 1).
    *
    * Alternating large-star / small-star (the textbook MapReduce
    * formulation from "Connected Components in MapReduce and Beyond"):
    * large-star links every strictly-larger neighbor of u to
    * m(u) = min(Γ(u) ∪ {u}); small-star links the ≤ neighbors and u
    * itself to m(u). Alternation converges in O(log n) rounds for ANY
    * graph shape — a million-node adversarial chain included — where
    * min-label propagation needs O(diameter) rounds. Each round is two
    * groupBy-min + join passes over the edge list, `localCheckpoint`
    * truncates lineage, and the fixpoint test is an edge-set equality.
    * Converged edges are pure stars centered at each component's min id.
    * Returns (node, cluster_id = min node id of the component).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b",
                          maxRounds: Int = 64,
                          smallGraphThreshold: Long = 1000000L): DataFrame = {
    // canonical undirected edge set: (u = min, v = max), no self-loops
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("u"), col("v")).as("u"),
                greatest(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v")).distinct()
    def sym(df: DataFrame): DataFrame =
      df.union(df.select(col("v").as("u"), col("u").as("v")))
    // m(u) = min(Γ(u) ∪ {u}) over the symmetrized edge set
    def mins(s: DataFrame): DataFrame =
      s.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))

    // the input pair pipeline (LSH candidates + exact verification when
    // called from nearDuplicateClusters) is consumed by THREE branches —
    // the checkpointed canonical edge set, realEdges and the self-loop
    // singleton scan — so materialize it once; O(edges) narrow rows,
    // spillable
    val raw = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .transform(graft.core.Caching.persist)
    // a node whose ONLY edges are self-loops still belongs in the output —
    // as its own singleton cluster — even though canon() drops loops from
    // the edge set; nodes that also touch a real edge get their component
    // label from that edge, so they are excepted here (one row per node)
    val realEdges = raw.where(col("u") =!= col("v"))
    val selfLoopSingletons = raw.where(col("u") === col("v"))
      .select(col("u").as("node"))
      .except(realEdges.select(col("u").as("node"))
        .union(realEdges.select(col("v").as("node"))))
      .select(col("node"), col("node").as("cluster_id"))
    var edges = canon(raw)
      .localCheckpoint(true)
    var edgeCount = edges.count()
    // Adaptive strategy, AQE-style: near-dup edge sets are usually a tiny
    // fraction of the corpus (pairs survive exact verification first). At
    // or under the threshold — a BOUNDED collect, ≤ ~16 MB of id pairs —
    // union-find on the driver resolves in milliseconds instead of
    // O(log n) distributed rounds of multi-shuffle jobs. Past it, the
    // star alternation below scales to any edge count.
    val isLongIds = edges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (edgeCount <= smallGraphThreshold && isLongIds) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      val labels = nodes.iterator.map(n => (n, find(n))).toSeq
      val spark = pairs.sparkSession
      import spark.implicits._
      return labels.toDF("node", "cluster_id")
        .union(selfLoopSingletons).distinct()
    }
    var done = false
    var rounds = 0
    while (!done) {
      rounds += 1
      // O(log n) convergence is the algorithm's guarantee; blowing the
      // bound means a bug, not a big graph — fail loudly
      require(rounds <= maxRounds,
        s"star alternation did not converge in $maxRounds rounds")
      // large-star: every strictly-larger neighbor of u links to m(u)
      val s1 = sym(edges)
      val ls = canon(s1.join(mins(s1), "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
      // small-star: every ≤ neighbor of u, and u itself, links to m(u)
      val s2 = sym(ls)
      val ss = canon(s2.join(mins(s2), "u")
        .where(col("v") < col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins(s2).select(col("u"), col("m").as("v"))))
        .localCheckpoint(true)
      // count first: a changed edge count proves non-convergence without
      // the set-difference shuffle; equal counts + one-direction subset
      // check proves equality (|ss| = |edges| ∧ ss ⊆ edges ⟹ ss = edges)
      val ssCount = ss.count()
      done = ssCount == edgeCount && ss.except(edges).isEmpty
      edges = ss
      edgeCount = ssCount
    }
    // converged: pure stars centered at each component's min id
    edges.select(col("v").as("node"), col("u").as("cluster_id"))
      .union(edges.select(col("u").as("node"), col("u").as("cluster_id")))
      .union(selfLoopSingletons)
      .distinct()
  }

  /** Near-duplicate CLUSTER assignment: LSH pairs → connected components.
    * Output (doc_id, cluster_id) for every document in at least one
    * confirmed pair; curation keeps cluster_id == doc_id (the minimum).
    */
  def nearDuplicateClusters(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                            threshold: Double = 0.5): DataFrame =
    connectedComponents(
      nearDuplicatePairs(docs, idCol, textCol, shingleN, k, bands, threshold))
      .select(col("node").as("doc_id"), col("cluster_id"))
}
