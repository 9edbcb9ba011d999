package graft.llm

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`ArrayType(FloatType)`).
  *
  * Two tiers, mirroring how a 100 TB corpus is actually served:
  *  - `knnBruteForce`: exact cosine top-k. The query set is broadcast, so
  *    the corpus is scanned once with NO shuffle of the big side; per-query
  *    ranking shuffles only (query_id, neighbor_id, score) triples.
  *  - random-hyperplane LSH buckets (`hyperplaneBucket`): each vector maps
  *    to a small bucket id; candidate search self-joins on the bucket key,
  *    turning O(n²) into Σ bucket². Plane weights derive from the portable
  *    md5 hash, so an external engine reproduces the exact same buckets.
  *
  * All cosine math is `zip_with`/`aggregate` Column expressions over
  * double-cast arrays — no UDF, vectors never deserialize to JVM objects.
  */
object Similarity {

  /** Dot product of two array columns (double accumulate, index order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Native one-pass cosine (CosineSimilarityExpr). */
  def cosine(a: Column, b: Column): Column = CosineSimilarityExpr(a, b)

  /** Column-composed cosine, kept as the cross-check for the native
    * expression (same accumulation order ⇒ identical IEEE doubles; only
    * difference: zero-norm inputs give NaN here, null natively).
    */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Bounded top-k accumulator: the map-side partials keep at most k
    * entries, so a knn over an n-row corpus shuffles O(partitions × k)
    * rows per query instead of n. Ordering: score desc, id asc
    * (deterministic ties).
    */
  final class TopKAggregator(k: Int)(
      implicit seqEnc: org.apache.spark.sql.Encoder[Seq[(Long, Double)]])
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {
    require(k > 0, s"TopKAggregator: k must be positive, got $k")
    private def keep(s: Seq[(Long, Double)]): Seq[(Long, Double)] =
      s.sortBy { case (id, score) => (-score, id) }.take(k)
    override def zero: Seq[(Long, Double)] = Seq.empty
    // buffers are always keep()-sorted by (-score, id), so b.last is the
    // worst kept row: a full buffer rejects a strictly-worse row with one
    // comparison instead of re-sorting k+1 rows on every input row.
    // Only the STRICT primitive < short-circuits — score ties (and the
    // -0.0/0.0, NaN edges, where primitive compare and the sort's total
    // ordering disagree) fall through to keep(), which decides exactly
    // as before.
    override def reduce(b: Seq[(Long, Double)], a: (Long, Double)) =
      if (b.length >= k && a._2 < b.last._2) b
      else keep(b :+ a)
    override def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]) = keep(a ++ b)
    override def finish(r: Seq[(Long, Double)]): Seq[(Long, Double)] = keep(r)
    override def bufferEncoder = seqEnc
    override def outputEncoder = seqEnc
  }

  /** Probe-side cap for the brute-force rankers, folded into the
    * broadcast build: both rankers broadcast the query frame AND
    * cross-join it against every corpus row, so cost is
    * |corpus|·|probe| — linear in the corpus only while the probe side
    * is small. The probe is pulled to the driver ONCE here (`limit
    * (cap+1)` — at most cap+1 narrow rows, exactly what the broadcast
    * would ship anyway), the cap checked on the pulled rows, and the
    * LOCALIZED frame returned — the probe source is never rescanned by
    * the cross-join, cached or not. Contract notes: (a) this is an
    * action, so the brute-force rankers are batch-only — a streaming
    * probe must ride the banded-LSH (annTopKInBands) or IVF (ivfTopK)
    * paths; (b) probes past `cap` fail HERE by design (a broadcast
    * cross-join at that size OOMs the driver and scans
    * |corpus|×|probe|) — raise `maxProbe` explicitly if the probe is
    * genuinely meant to be that large.
    */
  private def localizedProbe(q: DataFrame, cap: Int, who: String): DataFrame = {
    val rows = q.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$who: probe side has > $cap rows; a broadcast cross-join at this " +
        "size OOMs the driver and scans |corpus|x|probe| - use the banded " +
        "LSH (annTopKInBands) or IVF (ivfTopK) path instead, or raise maxProbe")
    q.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), q.schema)
  }

  /** Exact top-k neighbors for each row of `queries` against `corpus`.
    * Both frames need (`idCol`, `vecCol`); the score is rounded to 6
    * decimals before ranking so ordering is reproducible across engines,
    * ties broken by neighbor id. The ranking runs through TopKAggregator:
    * partial aggregation bounds the shuffle at k rows per (partition,
    * query) — the corpus itself never shuffles (query side broadcast).
    * The probe side is capped at `maxProbe` rows and localized to the
    * driver as part of the broadcast build (see [[localizedProbe]] for
    * the batch-only / fail-past-cap contract): brute force is the
    * small-probe tool by contract.
    */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    maxProbe: Int = 65536): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("nvec"))
    val q = localizedProbe(
      queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec")),
      maxProbe, "knnBruteForce")
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("nn_id"),
        round(cosine(col("qvec"), col("nvec")), 6).as("score"))
    topKByQuery(scored, k, withRank = true)
      .withColumnsRenamed(Map("vec_id" -> "query_id", "nn_id" -> "neighbor_id"))
  }

  /** Contrastive hard-negative mining: for each probe, the top-k most
    * similar corpus rows PER POLARITY — same-label (the positives a
    * contrastive batch pairs with) and different-label (the hard
    * negatives that actually move an embedding model). Encodes
    * (query, polarity) into one long key so the whole ranking rides
    * [[TopKAggregator]] exactly like [[knnBruteForce]]: the corpus
    * never shuffles (probe side broadcast), and the exchange carries
    * ≤ k rows per (partition, query, polarity). Same `maxProbe` cap as
    * [[knnBruteForce]] (broadcast cross-join = small-probe contract).
    *
    * Id domain: `idCol` values must fit `|id| < 2^62` (the ×2 polarity
    * encoding overflows a long past that). Negative ids round-trip
    * correctly — decode is an arithmetic shift (floor division), not
    * truncating DIV.
    */
  def labeledTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int,
                  maxProbe: Int = 65536): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("nvec"),
      col(labelCol).as("nlabel"))
    val q = localizedProbe(
      queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"),
        col(labelCol).as("qlabel")),
      maxProbe, "labeledTopK")
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(
        (col("query_id") * lit(2L)
          + when(col("nlabel") =!= col("qlabel"), lit(1L))
            .otherwise(lit(0L))).as("vec_id"),
        col("neighbor_id").as("nn_id"),
        round(cosine(col("qvec"), col("nvec")), 6).as("score"))
    // shiftright = floor division: (-3 -> key -5) decodes back to -3,
    // where truncating DIV 2 would give -2 and pair it with pmod's
    // floor-style remainder inconsistently
    topKByQuery(scored, k, withRank = true)
      .select(shiftright(col("vec_id"), 1).cast("long").as("query_id"),
        (pmod(col("vec_id"), lit(2L)) === lit(1L)).as("is_negative"),
        col("nn_id").as("neighbor_id"), col("score"), col("rnk"))
  }

  /** Symmetric int8 quantization scale: max|x| / 127 (0 for zero vectors). */
  def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x))) / lit(127.0)

  /** Symmetric int8 quantization of a double vector: round(x / scale) via
    * floor(+0.5) — identical IEEE op sequence on any engine, unlike
    * round() whose half-way rule differs between implementations. Values
    * land in [-127, 127]; a zero vector quantizes to zeros. The standard
    * 4× compression step before ANN indexing at corpus scale (dot products
    * on int8 + per-vector scale reconstruct cosine to ~1e-2).
    */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v, x =>
      when(scale === lit(0.0), lit(0))
        .otherwise(floor(x / scale + lit(0.5)).cast("int")))

  /** Per-label semantic centroid drift vs the global centroid — the
    * embedded-corpus mix monitor: a label (source/cluster/shard) whose
    * centroid swings away from the corpus centroid signals topic drift
    * or an ingest break. Components quantize to the same 14-bit integer
    * grid as [[embeddingOutliers]], so every centroid sum is an exact
    * long and both dot products are exact decimal(38,0) sums — the
    * final cosine is ONE fixed-order double expression over exact
    * integers, bit-portable across engines and cluster layouts.
    * (Cosine of the SUM vectors — scale-invariant, so no division by
    * counts ever happens in the exact part.)
    *
    * Scale shape: one corpus pass collapses to |labels|·d exact sums
    * (map-side combined); everything after is arithmetic on that
    * bounded table (global centroid = its d-row re-aggregation,
    * broadcast back). Nothing corpus-scale survives the first agg.
    */
  def centroidDrift(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, scaleBits: Int = 14): DataFrame = {
    val scale = math.pow(2.0, scaleBits)
    val pos = emb.select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .withColumn("q",
        floor(col("v").cast("double") * lit(scale) + lit(0.5)).cast("long"))
    val cent = pos.groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("s"))
    val counts = emb.groupBy(col(labelCol).cast("long").as("label"))
      .agg(count(lit(1)).cast("long").as("n_vecs"))
    centroidDriftFromSums(cent, counts, scale)
  }

  /** The arithmetic tail of [[centroidDrift]], over an already-reduced
    * (label, pos, s) quantized-sum table plus (label, n_vecs) counts —
    * shared with the streaming face, whose bounded |labels|·d counter
    * state IS that table.
    */
  def centroidDriftFromSums(cent0: DataFrame, counts: DataFrame,
                            scale: Double): DataFrame = {
    val cent = cent0.transform(graft.core.Caching.persist)
    val glob = cent.groupBy(col("pos"))
      .agg(sum(col("s")).cast("decimal(38,0)").as("g"))
      .transform(graft.core.Caching.persist)
    val dots = cent.join(broadcast(glob), "pos")
      .groupBy(col("label"))
      .agg(sum(col("s").cast("decimal(38,0)") * col("g")).as("dot_sg"),
        sum(col("s").cast("decimal(38,0)")
          * col("s").cast("decimal(38,0)")).as("dot_ss"))
    val gg = glob.agg(sum(col("g") * col("g")).as("dot_gg"))
    dots.join(counts, "label")
      .crossJoin(broadcast(gg)) // 1-row exact scalar, not a cartesian
      .select(col("label"), col("n_vecs"),
        (col("dot_sg").cast("double")
          / (sqrt(col("dot_ss").cast("double"))
            * sqrt(col("dot_gg").cast("double")))).as("cos_to_global"),
        (sqrt(col("dot_ss").cast("double"))
          / (col("n_vecs").cast("double") * lit(scale)))
          .as("centroid_norm"))
  }

  /** Portable 32-bit hash (same value as TextFunctions.portableHash /
    * the DuckDB SQL formulation): the first 8 md5 hex chars = the first 4
    * digest bytes as an unsigned big-endian int. Reads the bytes directly
    * with a thread-local digest — this sits on the per-token hot path of
    * the count-min / bloom aggregators, where a fresh
    * MessageDigest.getInstance + hex format/parse per call measured ~5×
    * the hash itself.
    */
  private val localMd5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def portableHashLocal(s: String): Long = {
    val md = localMd5.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Deterministic pseudo-random hyperplane weights in [-1, 1]:
    * w(p,i) = (H("plane|p|i") % 2001 - 1000) / 1000. The oracle derives the
    * identical planes in SQL from md5.
    */
  def planeWeights(plane: Int, dims: Int): Seq[Double] =
    (0 until dims).map { i =>
      (portableHashLocal(s"plane|$plane|$i") % 2001 - 1000) / 1000.0
    }

  /** Sign-bit bucket id over `planes` random hyperplanes (dims must match
    * the embedding dimensionality).
    */
  def hyperplaneBucket(vec: Column, planes: Int, dims: Int): Column = {
    // same guard as the native HyperplaneBandBucketsExpr: 1L << p wraps
    // at 64 and would silently merge plane p's sign bit into plane p-64's
    require(planes >= 1 && planes <= 63, s"planes must be in [1, 63]: $planes")
    (0 until planes).map { p =>
      val w = typedlit(planeWeights(p, dims))
      when(dot(vec, w) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Plane count sized to the corpus: 2^planes ≈ n / targetBucketRows, so
    * per-bucket population — and with it the Σ bucket² self-join term —
    * stays constant as the corpus grows. This is the knob the fixed
    * `planes = 8` call sites were missing: 256 buckets is right at 10⁵
    * rows and quadratic death at 10¹⁰.
    */
  def suggestedPlanes(corpusRows: Long, targetBucketRows: Long = 1024): Int =
    math.max(4, math.ceil(
      math.log((corpusRows.toDouble / targetBucketRows).max(1.0)) / math.log(2)).toInt)

  /** Banded multi-table LSH buckets — the recall-at-scale shape, exactly
    * like the MinHash banding: `bands` independent tables of
    * `planesPerBand` hyperplanes each. A high-cosine pair agrees on all
    * planes of SOME band with probability 1-(1-p^r)^b (p = 1-θ/π), so
    * recall is tunable by adding bands while each band's bucket count
    * (2^planesPerBand per band) keeps the self-join bounded. Plane p of
    * band t is global plane t*planesPerBand+p — derived from the same
    * portable md5 weights, so the oracle reproduces identical buckets.
    * Returns array<struct<band:int, bucket:bigint>>.
    */
  def hyperplaneBandBuckets(vec: Column, bands: Int, planesPerBand: Int,
                            dims: Int): Column =
    HyperplaneBandBucketsExpr(vec, bands, planesPerBand, dims)

  /** Column-composed reference form of the band buckets (spec cross-check
    * for the native expression; two HOF passes per plane — use
    * `hyperplaneBandBuckets` in pipelines).
    */
  def hyperplaneBandBucketsHof(vec: Column, bands: Int, planesPerBand: Int,
                               dims: Int): Column = {
    require(planesPerBand >= 1 && planesPerBand <= 63,
      s"planesPerBand must be in [1, 63]: $planesPerBand")
    array((0 until bands).map { t =>
      (0 until planesPerBand).map { j =>
        val w = typedlit(planeWeights(t * planesPerBand + j, dims))
        when(dot(vec, w) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** Embedding-cosine near-duplicate pairs: candidates come from the
    * hyperplane buckets (same-bucket ⇒ same side of all planes, which
    * high-cosine pairs almost surely are), then the exact cosine filters at
    * `threshold`. The n² never materializes.
    */
  def embeddingNearDuplicates(emb: DataFrame, idCol: String, vecCol: String,
                              planes: Int, dims: Int,
                              threshold: Double): DataFrame = {
    val b = emb.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"),
      hyperplaneBucket(col(vecCol).cast("array<double>"), planes, dims).as("bucket"))
    val l = b.select(col("bucket"), col("vec_id").as("id_a"), col("v").as("va"))
    val r = b.select(col("bucket"), col("vec_id").as("id_b"), col("v").as("vb"))
    l.join(r, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 6).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Banded variant of `embeddingNearDuplicates`: candidates are pairs
    * sharing ANY of the `bands` bucket tables, so recall for high-cosine
    * pairs approaches 1-(1-p^r)^b instead of the single-table p^planes.
    * The banded id table is persisted before the self-join (same reason as
    * the MinHash path: stop the optimizer re-deriving every plane dot on
    * both sides), vectors are joined back by id only for candidate pairs,
    * and the exact cosine filter runs on candidates alone.
    */
  def embeddingNearDuplicatesBanded(emb: DataFrame, idCol: String,
                                    vecCol: String, bands: Int,
                                    planesPerBand: Int, dims: Int,
                                    threshold: Double,
                                    maxBucket: Int = 10000): DataFrame = {
    // consumed three times (band derivation + both candidate-pair sides):
    // materialize one scan+cast instead of three
    val (v, banded) = bandedVectors(emb, idCol, vecCol, bands, planesPerBand, dims)
    val cand = LshGuard.guardedCandidates(banded, Seq("band", "bucket"),
      "vec_id", maxBucket, ordered = true)
    cand
      .join(v.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(v.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 6).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** ANN: nearest neighbor per vector searching ONLY its hyperplane bucket
    * (the scale path — bucket-key self-join, no cross join). Vectors alone
    * in their bucket produce no row.
    */
  def annNearestInBucket(emb: DataFrame, idCol: String, vecCol: String,
                         planes: Int, dims: Int,
                         maxBucket: Int = 10000): DataFrame = {
    val v = emb.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
      .transform(graft.core.Caching.persist)
    // persisted like the banded paths: the guard's count aggregation and
    // both self-join sides would otherwise each recompute the planes×dims
    // dot products over the corpus
    val banded = v.select(col("vec_id"),
      hyperplaneBucket(col("v"), planes, dims).as("bucket"))
      .transform(graft.core.Caching.persist)
    val cand = LshGuard.guardedCandidates(banded, Seq("bucket"),
      "vec_id", maxBucket, ordered = false)
    topKByQuery(scoreCandidates(cand, v), k = 1, withRank = false)
  }

  /** Banded ANN top-k: the k nearest neighbors per vector among candidates
    * sharing ANY band bucket. The ranking sorts only each vector's
    * candidate set (bounded by band-bucket sizes), never the corpus — the
    * production ANN query shape (nearest-1 is `annNearestInBands`).
    */
  def annTopKInBands(emb: DataFrame, idCol: String, vecCol: String,
                     bands: Int, planesPerBand: Int, dims: Int,
                     k: Int, maxBucket: Int = 10000): DataFrame = {
    val (v, banded) = bandedVectors(emb, idCol, vecCol, bands, planesPerBand, dims)
    val cand = LshGuard.guardedCandidates(banded, Seq("band", "bucket"),
      "vec_id", maxBucket, ordered = false)
    topKByQuery(scoreCandidates(cand, v), k, withRank = true)
  }

  /** Banded ANN: nearest neighbor per vector among candidates sharing ANY
    * band bucket — multi-table probing for recall, with each band's bucket
    * count still bounding the self-join. Vectors sharing no band with
    * anything produce no row (same contract as the single-table form).
    */
  def annNearestInBands(emb: DataFrame, idCol: String, vecCol: String,
                        bands: Int, planesPerBand: Int, dims: Int,
                        maxBucket: Int = 10000): DataFrame = {
    val (v, banded) = bandedVectors(emb, idCol, vecCol, bands, planesPerBand, dims)
    val cand = LshGuard.guardedCandidates(banded, Seq("band", "bucket"),
      "vec_id", maxBucket, ordered = false)
    topKByQuery(scoreCandidates(cand, v), k = 1, withRank = false)
  }

  /** IVF-Flat ANN: coarse-quantizer assignment + probed-list rerank — the
    * OTHER canonical ANN scale path next to hyperplane-LSH banding. Every
    * corpus vector scores against a broadcast centroid table (narrow map,
    * the corpus never shuffles for assignment) and lands in its nearest
    * centroid's inverted list; each query probes its `nprobe` nearest
    * lists and reranks exactly within them, so candidate work is
    * Σ probed-list sizes, never n². Both the probe ranking and the final
    * ranking run through the bounded TopKAggregator.
    *
    * The coarse quantizer here is deterministic — the `centroids`
    * smallest-id vectors — so results are value-reproducible and
    * oracle-checkable; at corpus scale that selection step is replaced by
    * sampled k-means (identical assignment/probe/rerank plumbing, and a
    * balanced quantizer only changes WHICH vectors land in each list).
    * Recall behaves like IVF everywhere: a neighbor assigned to a list
    * the query does not probe is missed — raise `nprobe` for recall.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              centroids: Int, nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids, "1 ≤ nprobe ≤ centroids")
    val v = emb.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .transform(graft.core.Caching.persist)
    // rnk 1 = the vector's own list; rnk ≤ nprobe = the probe set
    val probeR = topKByQuery(centroidScores(v, centroids), nprobe,
        withRank = true)
      .transform(graft.core.Caching.persist)
    val members = probeR.where(col("rnk") === 1)
      .select(col("nn_id").as("cid"), col("vec_id").as("member"))
    val probes = probeR.select(col("vec_id"), col("nn_id").as("cid"))
    val cand = probes.join(members, "cid")
      .where(col("vec_id") =!= col("member"))
      .select(col("vec_id").as("id_a"), col("member").as("id_b"))
    topKByQuery(scoreCandidates(cand, v), k, withRank = true)
  }

  /** IVF index-health profile: the per-list membership histogram of
    * [[ivfTopK]]'s coarse quantizer — the artifact an index build ships
    * next to the lists themselves. Skewed lists mean skewed probe cost
    * (one hot list dominates every nprobe-query that touches it) and
    * EMPTY lists waste a probe budget slot, so both must be visible:
    * every centroid appears, zero-member lists included (left join from
    * the centroid set, not the members). One assignment pass (broadcast
    * centroids, corpus never shuffles for it) + one |lists|-row agg.
    */
  def ivfListProfile(emb: DataFrame, idCol: String, vecCol: String,
                     centroids: Int): DataFrame = {
    val v = emb.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .transform(graft.core.Caching.persist)
    val asn = topKByQuery(centroidScores(v, centroids), k = 1,
        withRank = false)
      .select(col("nn_id").as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).cast("long").as("n_members"))
    val cents = v.orderBy("vec_id").limit(centroids)
      .select(col("vec_id").as("cid"))
    val total = emb.count().toDouble
    cents.join(asn, Seq("cid"), "left_outer")
      .select(col("cid").cast("long").as("cid"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        (coalesce(col("n_members"), lit(0L)).cast("double") / lit(total))
          .as("share"))
  }

  /** SemDeDup-style semantic deduplication: coarse-quantizer clustering
    * (same deterministic quantizer as [[ivfTopK]]) followed by exact
    * pairwise cosine INSIDE each cluster only — a vector is dropped when
    * some smaller-id member of its cluster matches it at ≥ `threshold`
    * (deterministic min-id representative; the paper keeps a random one).
    * Candidate work is Σ cluster², never n²; with √n clusters that is
    * ~n^1.5, and `maxCluster` star-caps a degenerate cluster (identical
    * boilerplate embeddings) through the same [[LshGuard]] every LSH
    * self-join here uses. Like IVF recall, cross-cluster duplicates are
    * out of contract — SemDeDup's trade by construction.
    *
    * Returns every vector: (vec_id, cid, kept).
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Int, threshold: Double,
                    maxCluster: Int = 4096): DataFrame = {
    val v = emb.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .transform(graft.core.Caching.persist)
    val asn = topKByQuery(centroidScores(v, centroids), k = 1,
        withRank = false)
      .select(col("vec_id"), col("nn_id").as("cid"))
      .transform(graft.core.Caching.persist)
    val pairs = LshGuard.guardedCandidates(asn, keyCols = Seq("cid"),
      idCol = "vec_id", maxBucket = maxCluster, ordered = true)
    val dropped = scoreCandidates(pairs, v)
      .where(col("score") >= threshold)
      .select(col("nn_id").as("vec_id")).distinct()
    asn.join(dropped.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dropped").isNull.as("kept"))
  }

  /** Deterministic coarse-quantizer scores: every corpus vector against
    * the `centroids` smallest-id vectors (broadcast — the corpus never
    * shuffles for assignment). TakeOrdered, not a total sort, bounds the
    * centroid pick at `centroids` rows. Zero-norm vectors (null cosine)
    * pin to a sentinel below the cosine range so assignment stays total.
    */
  /** A persistable IVF index: `cents(cid, cv)` — the coarse quantizer —
    * and `lists(cid, member, mv)` — the inverted lists WITH their
    * member vectors (the standard IVF layout: a probe reads only its
    * lists, never the corpus). Both are plain DataFrames, so the index
    * is a parquet artifact: build once ([[ivfBuild]] /
    * [[ivfBuildWith]]), [[ivfSave]], and every later job [[ivfLoad]]s
    * and [[ivfQuery]]s without touching the corpus again.
    */
  final case class IvfIndex(cents: DataFrame, lists: DataFrame)

  /** Build the IVF index under the deterministic coarse quantizer
    * ([[ivfTopK]]'s smallest-id vectors — value-reproducible); swap in
    * sampled k-means centroids via [[ivfBuildWith]] at corpus scale.
    */
  def ivfBuild(emb: DataFrame, idCol: String, vecCol: String,
               centroids: Int): IvfIndex = {
    val v = embVectors(emb, idCol, vecCol)
    buildFrom(v,
      v.orderBy("vec_id").limit(centroids)
        .select(col("vec_id").cast("long").as("cid"), col("v").as("cv")))
  }

  /** Build with an ARBITRARY quantizer table (cid, cv) — e.g. sampled
    * k-means centroids. Assignment is one narrow pass against the
    * broadcast quantizer (the corpus never shuffles for it); ties
    * break toward the smallest cid so the index is deterministic for
    * any quantizer.
    */
  def ivfBuildWith(emb: DataFrame, idCol: String, vecCol: String,
                   quantizer: DataFrame): IvfIndex =
    buildFrom(embVectors(emb, idCol, vecCol), quantizer)

  private def buildFrom(v: DataFrame, quantizer: DataFrame): IvfIndex = {
    val cents = quantizer
      .select(col("cid").cast("long").as("cid"),
        col("cv").cast("array<double>").as("cv"))
    val asn = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"),
        struct(negate(coalesce(round(cosine(col("v"), col("cv")), 6),
          lit(-2.0))).as("ns"), col("cid").as("cid")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(min(col("sc")).as("best"), first(col("v")).as("v"))
      .select(col("best.cid").as("cid"),
        col("vec_id").cast("long").as("member"), col("v").as("mv"))
    IvfIndex(cents, asn)
  }

  /** int8-quantize a built index's member vectors — the 4× smaller
    * artifact for corpus-scale serving (float64 lists are corpus-sized
    * at 100 TB; int8 + a per-vector scale is the standard compression
    * the q289 audit prices). Lists become (cid, member, mq, mscale,
    * mnrm): the symmetric-int8 vector ([[quantizeInt8]], same rounding
    * rule as q71/q289), its reconstruction scale, and its PRECOMPUTED
    * integer norm (ships with the index so a probe pays one dot
    * product per candidate, not three). [[ivfQuery]] detects the
    * quantized schema and reranks in EXACT integer dot products —
    * per-vector scales cancel in cosine, so no float reconstruction
    * happens at query time. Recall cost of the compression is measured
    * by q312's curve, not asserted.
    */
  def ivfQuantize(ix: IvfIndex): IvfIndex = {
    val mq = quantizeInt8(col("mv"), int8Scale(col("mv")))
    IvfIndex(ix.cents,
      ix.lists.select(col("cid"), col("member"), mq.as("mq"),
          int8Scale(col("mv")).as("mscale"))
        .withColumn("mnrm", sqrt(intDot(col("mq"), col("mq"))
          .cast("double"))))
  }

  /** Exact integer dot product of two int vectors as a long. */
  private def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y),
      lit(0L), (acc, x) => acc + x)

  /** Write the index as two parquet tables under `dir`. */
  def ivfSave(ix: IvfIndex, dir: String): Unit = {
    ix.cents.write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    ix.lists.write.mode("overwrite").parquet(s"$dir/lists.parquet")
  }

  /** Load a saved index. */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession,
              dir: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$dir/centroids.parquet"),
      spark.read.parquet(s"$dir/lists.parquet"))

  /** Query a PREBUILT index with an out-of-corpus query set: each
    * query scores the broadcast quantizer, probes its `nprobe` nearest
    * lists, and reranks exactly within them — candidate work is
    * Σ probed-list sizes, the corpus is never read. Output
    * (vec_id = query id, nn_id = member id, score, rnk). Same recall
    * contract as [[ivfTopK]]: raise `nprobe` for recall.
    */
  def ivfQuery(ix: IvfIndex, queries: DataFrame, idCol: String,
               vecCol: String, nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1: $nprobe")
    val q = embVectors(queries, idCol, vecCol)
    val scored = q.crossJoin(broadcast(ix.cents))
      .select(col("vec_id"), col("cid").as("nn_id"),
        coalesce(round(cosine(col("v"), col("cv")), 6), lit(-2.0))
          .as("score"))
    val probes = topKByQuery(scored, nprobe, withRank = false)
      .select(col("vec_id"), col("nn_id").as("cid"))
    // an [[ivfQuantize]]d index reranks in exact integer dot products
    // (per-vector scales cancel in cosine; member norms are
    // precomputed in the index, the probe set quantizes once)
    val cand = if (ix.lists.columns.contains("mq")) {
      val qq = q.select(col("vec_id"),
          quantizeInt8(col("v"), int8Scale(col("v"))).as("qv"))
        .withColumn("qnrm", sqrt(intDot(col("qv"), col("qv"))
          .cast("double")))
      probes.join(ix.lists, "cid").join(qq, "vec_id")
        .select(col("vec_id"), col("member").as("nn_id"),
          when(col("qnrm") === 0.0 || col("mnrm") === 0.0,
            lit(null).cast("double"))
            .otherwise(round(intDot(col("qv"), col("mq")).cast("double")
              / (col("qnrm") * col("mnrm")), 6)).as("score"))
    } else {
      probes.join(ix.lists, "cid")
        .join(q.select(col("vec_id"), col("v")), "vec_id")
        .select(col("vec_id"), col("member").as("nn_id"),
          round(cosine(col("v"), col("mv")), 6).as("score"))
    }
    // lists PARTITION the corpus (one best cid per member), so no
    // candidate can arrive twice — no dedup pass needed
    topKByQuery(cand, k, withRank = true)
  }

  /** The nprobe-tuning readout for a built index: recall@k of
    * [[ivfQuery]] against exact brute force, per nprobe in
    * 1..`maxProbe` — the curve every ANN deployment quotes to pick its
    * probe budget (the Scaladoc's "raise nprobe for recall", measured
    * instead of asserted). Self-matches are excluded on both sides so
    * the metric scores genuine neighbors. One brute pass + one
    * assignment-ranking pass, both over the (small) probe set; each
    * curve point reuses them.
    *
    * @return (nprobe, n_queries, hits, possible, recall) — `possible`
    *         = Σ per-query brute neighbors (≤ k each).
    */
  def ivfRecallCurve(ix: IvfIndex, corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     maxProbe: Int): DataFrame = {
    require(maxProbe >= 1, s"maxProbe must be >= 1: $maxProbe")
    val brute = knnBruteForce(corpus, queries, idCol, vecCol, k)
      .select(col("query_id").as("vec_id"),
        col("neighbor_id").as("nn_id"))
      .transform(graft.core.Caching.persist)
    val nq = queries.select(col(idCol)).distinct().count()
    // ONE probe ranking at maxProbe + ONE candidate-scoring pass; every
    // curve point is the probe-rank-≤np slice (nprobe-np candidates ARE
    // the rank-≤np prefix of the maxProbe probes — same ordering, same
    // tie rules), and the whole curve's ranking tail runs once through
    // [[curveHits]] instead of once per point (r16: 3 shuffle chains
    // per point → 1 total).
    val q = embVectors(queries, idCol, vecCol)
    val scored = q.crossJoin(broadcast(ix.cents))
      .select(col("vec_id"), col("cid").as("nn_id"),
        coalesce(round(cosine(col("v"), col("cv")), 6), lit(-2.0))
          .as("score"))
    val probes = topKByQuery(scored, maxProbe, withRank = true)
      .select(col("vec_id"), col("nn_id").as("cid"),
        col("rnk").as("pr"))
    // ivfQuery's exact two scoring branches, with the probe rank kept
    val cand = if (ix.lists.columns.contains("mq")) {
      val qq = q.select(col("vec_id"),
          quantizeInt8(col("v"), int8Scale(col("v"))).as("qv"))
        .withColumn("qnrm", sqrt(intDot(col("qv"), col("qv"))
          .cast("double")))
      probes.join(ix.lists, "cid").join(qq, "vec_id")
        .select(col("vec_id"), col("member").as("nn_id"), col("pr"),
          when(col("qnrm") === 0.0 || col("mnrm") === 0.0,
            lit(null).cast("double"))
            .otherwise(round(intDot(col("qv"), col("mq")).cast("double")
              / (col("qnrm") * col("mnrm")), 6)).as("score"))
    } else {
      probes.join(ix.lists, "cid")
        .join(q.select(col("vec_id"), col("v")), "vec_id")
        .select(col("vec_id"), col("member").as("nn_id"), col("pr"),
          round(cosine(col("v"), col("mv")), 6).as("score"))
    }
    val ex = cand.withColumn("np",
      explode(sequence(col("pr"), lit(maxProbe.toLong))))
    val h = curveHits(ex, brute, k, maxProbe, "h")
    queries.sparkSession.range(1L, maxProbe + 1L)
      .select(col("id").as("np"))
      .join(h, Seq("np"), "left")
      .crossJoin(broadcast(
        brute.agg(count(lit(1)).cast("long").as("possible"))))
      .select(col("np").as("nprobe"), lit(nq).as("n_queries"),
        coalesce(col("h"), lit(0L)).as("hits"), col("possible"),
        (coalesce(col("h"), lit(0L)).cast("double")
          / col("possible").cast("double")).as("recall"))
  }

  /** [[ivfRecallCurve]] for the float index AND its [[ivfQuantize]]d
    * twin in ONE candidate pass: the probe ranking runs once at
    * `maxProbe`, every candidate is scored with BOTH formulas (exact
    * float cosine and the exact-long int8 rerank) in the same
    * projection, and each curve point filters the persisted candidate
    * table by probe rank — nprobe-np candidates are exactly the
    * rank-≤np prefix of the maxProbe probes (same ordering, same tie
    * rules), so the output is value-identical to running the two
    * curves separately while the expensive dot products happen once
    * instead of 2×maxProbe times.
    *
    * @return (nprobe, n_queries, possible, recall_float, recall_int8,
    *         recall_delta) per nprobe in 1..maxProbe
    */
  def ivfRecallCurveDual(ix: IvfIndex, corpus: DataFrame,
                         queries: DataFrame, idCol: String,
                         vecCol: String, k: Int,
                         maxProbe: Int): DataFrame = {
    require(maxProbe >= 1, s"maxProbe must be >= 1: $maxProbe")
    require(!ix.lists.columns.contains("mq"),
      "takes the FLOAT index; the int8 side is derived internally " +
        "with ivfQuantize's exact formulas")
    val brute = knnBruteForce(corpus, queries, idCol, vecCol, k)
      .select(col("query_id").as("vec_id"),
        col("neighbor_id").as("nn_id"))
      .transform(graft.core.Caching.persist)
    val nq = queries.select(col(idCol)).distinct().count()
    val q = embVectors(queries, idCol, vecCol)
    val scored = q.crossJoin(broadcast(ix.cents))
      .select(col("vec_id"), col("cid").as("nn_id"),
        coalesce(round(cosine(col("v"), col("cv")), 6), lit(-2.0))
          .as("score"))
    val probes = topKByQuery(scored, maxProbe, withRank = true)
      .select(col("vec_id"), col("nn_id").as("cid"),
        col("rnk").as("pr"))
    val qq = q.select(col("vec_id"), col("v"),
        quantizeInt8(col("v"), int8Scale(col("v"))).as("qv"))
      .withColumn("qnrm", sqrt(intDot(col("qv"), col("qv"))
        .cast("double")))
    // ivfQuantize's exact per-member quantities, derived inline
    val lists8 = ix.lists.select(col("cid"), col("member"), col("mv"),
        quantizeInt8(col("mv"), int8Scale(col("mv"))).as("mq"))
      .withColumn("mnrm", sqrt(intDot(col("mq"), col("mq"))
        .cast("double")))
    val cand = probes.join(lists8, "cid").join(qq, "vec_id")
      .select(col("vec_id"), col("member").as("nn_id"), col("pr"),
        round(cosine(col("v"), col("mv")), 6).as("score_f"),
        when(col("qnrm") === 0.0 || col("mnrm") === 0.0,
          lit(null).cast("double"))
          .otherwise(round(intDot(col("qv"), col("mq")).cast("double")
            / (col("qnrm") * col("mnrm")), 6)).as("score_i"))
      .transform(graft.core.Caching.persist)
    // the whole curve's ranking tail in ONE pass per score type (r16):
    // each candidate explodes to every probe budget np >= its probe
    // rank, and [[curveHits]] ranks all (query, np) groups in one
    // bounded topK instead of one chain per curve point — identical
    // values (same rows, same order inside every group).
    val ex = cand.withColumn("np",
      explode(sequence(col("pr"), lit(maxProbe.toLong))))
    val hf = curveHits(ex.select(col("vec_id"), col("nn_id"), col("np"),
      col("score_f").as("score")), brute, k, maxProbe, "hf")
    val hi = curveHits(ex.select(col("vec_id"), col("nn_id"), col("np"),
      col("score_i").as("score")), brute, k, maxProbe, "hi")
    queries.sparkSession.range(1L, maxProbe + 1L)
      .select(col("id").as("np"))
      .join(hf, Seq("np"), "left").join(hi, Seq("np"), "left")
      .crossJoin(broadcast(
        brute.agg(count(lit(1)).cast("long").as("possible"))))
      .select(col("np").as("nprobe"), lit(nq).as("n_queries"),
        col("possible"),
        (coalesce(col("hf"), lit(0L)).cast("double")
          / col("possible").cast("double")).as("recall_float"),
        (coalesce(col("hi"), lit(0L)).cast("double")
          / col("possible").cast("double")).as("recall_int8"))
      .withColumn("recall_delta",
        col("recall_int8") - col("recall_float"))
  }

  /** Per-(query, nprobe) top-k hits against the brute truth for a WHOLE
    * recall curve in ONE ranking pass (r16): `ex` carries one row per
    * (vec_id, nn_id, np, score) — each candidate exploded to every
    * probe budget np in [its probe rank, maxProbe] — and rides the
    * TopKAggregator under a composite bit-packed (vec_id, np) key, so
    * the curve pays ONE bounded topK shuffle + ONE re-rank window + ONE
    * brute semi-join instead of one of each per curve point. Ranking
    * inside a (vec_id, np) group sees exactly the pr <= np candidate
    * set in the same (score DESC, nn_id) total order, so the hits are
    * bit-identical to the per-point loop. Key packing needs
    * |vec_id| < 2^(63−bits), bits = ⌈log2(maxProbe+1)⌉ — the
    * [[labeledTopK]] id-domain charter. The k+1 / drop-self / re-rank
    * tail is [[ivfRecallCurve]]'s: an exact self-match occupies one
    * slot at score 1, never a neighbor slot.
    *
    * @return (np, `hitsName`) — nps with zero hits are ABSENT (callers
    *         left-join the full 1..maxProbe range and coalesce to 0)
    */
  private[llm] def curveHits(ex: DataFrame, brute: DataFrame, k: Int,
                             maxProbe: Int,
                             hitsName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(maxProbe.toLong)
    val mask = (1L << bits) - 1L
    val keyed = ex.select(
      shiftleft(col("vec_id").cast("long"), bits)
        .bitwiseOR(col("np")).as("vec_id"),
      col("nn_id"), col("score"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("rnk"))
    topKByQuery(keyed, k + 1, withRank = true)
      .where(col("nn_id") =!= shiftright(col("vec_id"), bits))
      .withColumn("rr", row_number().over(w))
      .where(col("rr") <= k)
      .select(shiftright(col("vec_id"), bits).as("vec_id"),
        col("vec_id").bitwiseAND(lit(mask)).as("np"), col("nn_id"))
      .join(brute, Seq("vec_id", "nn_id"), "left_semi")
      .groupBy(col("np"))
      .agg(count(lit(1)).cast("long").as(hitsName))
  }

  private def embVectors(emb: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .transform(graft.core.Caching.persist)

  private def centroidScores(v: DataFrame, centroids: Int): DataFrame = {
    val cents = v.orderBy("vec_id").limit(centroids)
      .select(col("vec_id").as("nn_id"), col("v").as("cv"))
    v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("nn_id"),
        coalesce(round(cosine(col("v"), col("cv")), 6), lit(-2.0)).as("score"))
  }

  /** Shared banded-LSH prep: persisted (vec_id, v) and its (vec_id, band,
    * bucket) membership table (both consumed by multiple downstream ops).
    */
  private def bandedVectors(emb: DataFrame, idCol: String, vecCol: String,
                            bands: Int, planesPerBand: Int,
                            dims: Int): (DataFrame, DataFrame) = {
    val v = emb.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
      .transform(graft.core.Caching.persist)
    val banded = v
      .select(col("vec_id"),
        posexplode(hyperplaneBandBuckets(col("v"), bands, planesPerBand, dims)))
      .toDF("vec_id", "band", "bucket")
      .transform(graft.core.Caching.persist)
    (v, banded)
  }

  /** Resolve candidate id pairs (id_a = query, id_b = neighbor) back to
    * vectors and score them: (vec_id, nn_id, score) with the 6-decimal
    * rounding that makes ranking reproducible across engines.
    */
  private def scoreCandidates(cand: DataFrame, v: DataFrame): DataFrame =
    cand
      .select(col("id_a").as("vec_id"), col("id_b").as("nn_id"))
      .join(v.select(col("vec_id"), col("v")), "vec_id")
      .join(v.select(col("vec_id").as("nn_id"), col("v").as("nv")), "nn_id")
      .select(col("vec_id"), col("nn_id"),
        round(cosine(col("v"), col("nv")), 6).as("score"))

  /** Per-label embedding outliers: the k vectors farthest (squared
    * Euclidean distance) from their label's centroid — the standard
    * mislabeled-example / contamination screen over an embedded corpus.
    *
    * Exactness: components quantize to integers (floor(x·2^bits + 0.5)),
    * and the distance to the centroid Σq/n is computed as the integer
    * Σ(q·n − Σq)² = n²·Σ(q − mean)² — no floating-point accumulation
    * anywhere, so the result is a pure function of the input bytes and an
    * external engine reproduces it exactly. Bound: the scaled distance
    * must stay under 2^53 (double-exact for ranking) — dims·(2^bits·
    * maxAbs·n)² < 2^53; at larger corpora drop `scaleBits` or switch the
    * two sums to decimal(38,0) (same plan shape).
    *
    * Scale shape: one narrow posexplode, one (label, pos) aggregate whose
    * result is tiny (labels × dims rows → AQE broadcasts it back), one
    * (label, id) aggregate, and the bounded TopKAggregator ranking — the
    * corpus never joins itself and nothing is driver-collected.
    */
  def embeddingOutliers(emb: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, k: Int,
                        scaleBits: Int = 14): DataFrame = {
    val scale = math.pow(2.0, scaleBits)
    val pos = emb.select(col(labelCol).cast("long").as("label"),
        col(idCol).cast("long").as("vid"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .withColumn("q",
        floor(col("v").cast("double") * lit(scale) + lit(0.5)).cast("long"))
    val cent = pos.groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("cnt"))
    val scored = pos.join(cent, Seq("label", "pos"))
      .select(col("label"), col("vid"),
        (col("q") * col("cnt") - col("sum_q")).as("dev"))
      .groupBy(col("label"), col("vid"))
      .agg(sum(col("dev") * col("dev")).as("dist2"))
    val labelType = emb.schema(labelCol).dataType
    topKByQuery(scored.select(col("label").as("vec_id"), col("vid").as("nn_id"),
        col("dist2").cast("double").as("score")), k, withRank = true)
      .select(col("vec_id").cast(labelType).as("label"),
        col("nn_id").as("vec_id"),
        col("score").cast("long").as("dist2"), col("rnk"))
  }

  /** Rank each query's candidates with the bounded TopKAggregator instead
    * of a `row_number` window: partial aggregation keeps ≤ k entries per
    * map partition, so the shuffle carries O(partitions × k) rows per
    * query — the window form re-sorts the ENTIRE candidate pair set.
    * Ordering matches the previous window (score desc, nn_id asc).
    *
    * Null scores (zero-norm vectors — the native cosine's contract) rank
    * LAST, the same place `desc` ordering puts nulls: they ride through
    * the typed aggregator as a sentinel below cosine's [-1, 1] range and
    * come back out as null. Non-integral id columns (the API takes any
    * atomic idCol) fall back to the window form: the typed aggregator
    * needs a concrete encoder, and integral ids are the only case where
    * the bounded-shuffle path pays.
    */
  /** Global (single-list) top-k ranking WITHOUT a window: routes through
    * TopKAggregator under one constant query key, so the map-side
    * partials bound every shuffle at k rows per partition and nothing
    * ever sorts the full list — the ranking primitive q163's RRF fusion
    * composes. Ties break by id ascending, like every other ranking here.
    */
  def topKGlobal(scored: DataFrame, idCol: String, scoreCol: String,
                 k: Int): DataFrame =
    topKByQuery(scored.select(lit(0L).as("vec_id"),
        col(idCol).cast("long").as("nn_id"),
        col(scoreCol).cast("double").as("score")), k, withRank = true)
      .select(col("nn_id").as(idCol), col("score"), col("rnk"))

  /** Public bounded top-k ranking over (vec_id, nn_id, score) rows —
    * the TopKAggregator path (≤ k rows per partition-query reach the
    * shuffle), score desc / nn_id asc, 1-based `rnk`.
    */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    topKByQuery(scored, k, withRank = true)

  private def topKByQuery(scored: DataFrame, k: Int,
                          withRank: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val idTypes = Seq("vec_id", "nn_id").map(scored.schema(_).dataType)
    val integral = idTypes.forall {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val ranked = if (integral) {
      val spark = scored.sparkSession
      import spark.implicits._
      val topk = new TopKAggregator(k).toColumn
      val nullScore = -2.0 // below any real cosine: sorts last, restored below
      scored.select(col("vec_id").cast("long"), col("nn_id").cast("long"),
          coalesce(col("score"), lit(nullScore)).as("score"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .mapValues { case (_, nid, s) => (nid, s) }
        .agg(topk.name("top"))
        .flatMap { case (qid, top) =>
          top.iterator.zipWithIndex.map { case ((nid, s), i) =>
            (qid, nid, s, (i + 1).toLong)
          }
        }
        .toDF("vec_id", "nn_id", "score", "rnk")
        .withColumn("score", when(col("score") === nullScore, lit(null))
          .otherwise(col("score")))
        .withColumn("vec_id", col("vec_id").cast(idTypes.head))
        .withColumn("nn_id", col("nn_id").cast(idTypes(1)))
    } else {
      import org.apache.spark.sql.expressions.Window
      scored.withColumn("rnk",
          row_number().over(Window.partitionBy(col("vec_id"))
            .orderBy(col("score").desc, col("nn_id").asc)).cast("long"))
        .where(col("rnk") <= k)
    }
    if (withRank) ranked else ranked.drop("rnk")
  }
}
