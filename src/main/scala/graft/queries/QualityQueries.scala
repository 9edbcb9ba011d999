package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Money.dec

/** Round-6 widening, part 2: the data-platform operators a production
  * warehouse team reaches for daily that the 163-query gate still lacked —
  * a Deequ-style data-quality verification suite, incremental aggregate
  * (materialized-view) maintenance, blocked record linkage, robust
  * (median/MAD) outlier detection, and an item-item co-occurrence
  * recommender. Every query carries a DuckDB oracle.
  *
  * Scale notes (100 TB posture):
  *  - q164 computes the WHOLE constraint suite in one scan: every metric is
  *    an aggregate over the same pass (the distinct-count plans as Spark's
  *    expand+two-phase aggregate, still one scan), then a constant-width
  *    stack unpivots 7 metrics into rows. Deequ's VerificationSuite shape.
  *  - q165 is the IVM argument: the maintained view equals a full
  *    recompute, but the merge step touches |delta| + |groups| rows only —
  *    at 100 TB the base aggregate is a stored table and the delta is the
  *    day's changelog, so maintenance cost is independent of base size.
  *  - q166 generates candidates via `operators.Linkage.candidatePairs`:
  *    the (nation, segment) block predicates PLUS a ≤2-deletion name
  *    band, complete for the lev ≤ 2 link rule. Blocking on the fixed
  *    125-value nation×segment key alone would make candidates O(n²) in
  *    corpus size; the deletion band bounds them by Σ variant-bucket² —
  *    a data property, verified corpus-linear by LinkageScaleSpec.
  *    Scoring is codegen'd levenshtein plus an exact integer-cents
  *    balance band.
  *  - q167 is two keyed aggregates plus two broadcast joins of per-group
  *    stats (|groups| rows); the corpus never shuffles.
  *  - q168's pair explosion is bounded by Σ basket² (baskets are order
  *    line counts, single digits); the per-item ranking runs through the
  *    bounded TopKAggregator — k rows per partial, never a sort window.
  */
object QualityQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Data-quality verification suite (Deequ VerificationSuite analog):
    // 7 constraints — table size, column completeness, key uniqueness,
    // domain compliance, min/max bounds, mean-in-range — all computed in
    // a single scan and unpivoted to one row per check. Money mean uses
    // the exact decimal sum divided in double; the totals stay < 2^53
    // units through sf~100, so the decimal→double cast is exact on both
    // engines (no int128 rounding divergence).
    "q164_dq_suite" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .agg(
          count(lit(1)).as("n"),
          count(col("l_quantity")).as("n_qty"),
          countDistinct(col("l_orderkey"), col("l_linenumber")).as("n_pk"),
          sum(when(col("l_discount").between(0.0, 0.1), 1L).otherwise(0L))
            .as("n_disc_ok"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          sum(dec(col("l_extendedprice"))).as("sum_price"))
        .select(expr(
          """stack(7,
               'size_ge_1000', CAST(n AS DOUBLE), CAST(n >= 1000 AS INT),
               'completeness_l_quantity', CAST(n_qty AS DOUBLE) / n,
                 CAST(n_qty = n AS INT),
               'uniqueness_order_line', CAST(n_pk AS DOUBLE) / n,
                 CAST(n_pk = n AS INT),
               'compliance_discount_0_to_0.1', CAST(n_disc_ok AS DOUBLE) / n,
                 CAST(n_disc_ok = n AS INT),
               'min_quantity_ge_1', CAST(min_qty AS DOUBLE),
                 CAST(min_qty >= 1.0 AS INT),
               'max_quantity_le_50', CAST(max_qty AS DOUBLE),
                 CAST(max_qty <= 50.0 AS INT),
               'mean_price_in_range', CAST(sum_price AS DOUBLE) / n,
                 CAST(CAST(sum_price AS DOUBLE) / n BETWEEN 1000.0 AND 100000.0
                   AS INT)
             ) AS (check_name, metric, passed)"""))
    }),

    // Incremental aggregate maintenance (materialized-view delta-apply):
    // the base slice's stored summary is merged with a signed changelog
    // aggregate (rows after the cutoff; every 7th line is a retraction) via
    // one full-outer pass on the group key — the DBSP/Materialize shape.
    // The oracle recomputes the same arithmetic in one direct pass, so a
    // green hash IS the IVM correctness proof: maintain(base, delta) ≡
    // recompute(base ⊎ delta). All money math in exact decimal.
    "q165_incremental_view" -> ((s, dir) => {
      val cutoff = lit("1997-01-01").cast("timestamp")
      val li = Tables.lineitem(s, dir)
      val key = Seq("l_returnflag", "l_linestatus")
      val base = li.filter(col("l_shipdate") < cutoff)
        .groupBy(key.map(col): _*)
        .agg(sum(dec(col("l_quantity"))).cast("decimal(38,2)").as("b_qty"),
             count(lit(1)).as("b_cnt"))
      val delta = li.filter(col("l_shipdate") >= cutoff)
        .withColumn("op",
          when(col("l_linenumber") % 7 === 0, lit(-1)).otherwise(lit(1)))
        .groupBy(key.map(col): _*)
        .agg(sum(col("op") * dec(col("l_quantity"))).cast("decimal(38,2)")
               .as("d_qty"),
             sum(col("op").cast("long")).as("d_cnt"))
      val zero = lit(0).cast("decimal(38,2)")
      base.join(delta, key, "full_outer")
        .select(col("l_returnflag"), col("l_linestatus"),
          (coalesce(col("b_qty"), zero) + coalesce(col("d_qty"), zero))
            .cast("double").as("sum_qty"),
          (coalesce(col("b_cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L)))
            .as("n_rows"))
    }),

    // Blocked record linkage (Fellegi–Sunter shape): candidate pairs
    // share the (nation, segment) block predicates AND a ≤2-deletion
    // name variant (`Linkage.candidatePairs` — complete for lev ≤ 2, so
    // nothing the score filter would keep is lost), then score on two
    // fields — edit distance of names (≤2 → strong agreement) and an
    // account-balance band evaluated in exact integer cents (no
    // double-boundary flips). Pairs scoring ≥ 2 are links. The deletion
    // band bounds candidates by Σ variant-bucket² — a data property
    // (how near-identical names actually are), NOT the fixed 125-block
    // cardinality of nation×segment, so candidate volume grows linearly
    // with the corpus (LinkageScaleSpec doubles the table and checks).
    "q166_record_linkage" -> ((s, dir) => {
      // Bag-distance prefilter (the q-gram count filter of the
      // similarity-join literature): per-name digit counts packed 6
      // bits each into one long at scan time; a candidate pair whose
      // count-vector L1 exceeds 4 cannot have lev ≤ 2 (each edit moves
      // the full-alphabet bag by ≤ 2, and projecting to digits only
      // shrinks the L1) — so the O(|s|²) DP runs on survivors only.
      // Provably lossless: the oracle runs the unfiltered form.
      val pack = (0 to 9).map { d =>
        // cast BEFORE the shift: an Int shifted by ≥32 wraps
        shiftleft((length(col("c_name")) -
          length(expr(s"replace(c_name, '$d', '')"))).cast("long"), 6 * d)
      }.reduce(_ + _)
      val c = Tables.customer(s, dir).select(
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("cents"),
        pack.as("dpack"))
      val cand = graft.operators.Linkage.candidatePairs(
        c, idCol = "c_custkey", nameCol = "c_name",
        blockCols = Seq("c_nationkey", "c_mktsegment"))
      val attrs = c.select(col("c_custkey"), col("c_name"), col("cents"),
        col("dpack"))
      val a = attrs.columns.foldLeft(attrs)((d, n) => d.withColumnRenamed(n, "a_" + n))
      val b = attrs.columns.foldLeft(attrs)((d, n) => d.withColumnRenamed(n, "b_" + n))
      val bagL1 = (0 to 9).map { d =>
        abs(shiftright(col("a_dpack"), 6 * d).bitwiseAND(lit(63L)) -
            shiftright(col("b_dpack"), 6 * d).bitwiseAND(lit(63L)))
      }.reduce(_ + _)
      cand
        .join(a, col("id_a") === col("a_c_custkey"))
        .join(b, col("id_b") === col("b_c_custkey"))
        .filter(bagL1 <= 4)
        .withColumn("lev", levenshtein(col("a_c_name"), col("b_c_name")))
        .withColumn("score",
          when(col("lev") <= 2, lit(2)).otherwise(lit(0)) +
          when(abs(col("a_cents") - col("b_cents")) < 50000L, lit(1))
            .otherwise(lit(0)))
        .filter(col("score") >= 2)
        .select(col("id_a"), col("id_b"), col("lev"), col("score"))
    }),

    // Robust outliers via median/MAD (modified z-score, Iglewicz–Hoaglin
    // 0.6745·(x−med)/MAD > 3.5): the heavy-tail-safe twin of q110's
    // mean/stddev z-score. Exact interpolated medians per group (the q53
    // pattern both engines compute identically), per-group stats ride
    // broadcasts; every float op is a fixed per-row expression, so doubles
    // are bit-identical at any parallelism.
    "q167_mad_outliers" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .withColumn("robust_z",
          lit(0.6745) * (col("value") - col("med")) / col("mad"))
        .filter(abs(col("robust_z")) > 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          col("robust_z"))
    }),

    // Item-item co-occurrence recommender ("customers who bought X also
    // bought"): distinct basket–item pairs self-join on the basket key
    // (bounded by Σ basket², baskets are single-digit order line counts),
    // pair counts in one hash aggregate, then top-3 co-items per item by
    // (count desc, item asc) through the bounded TopKAggregator — k rows
    // per partial aggregate, never a ranking window over the corpus.
    "q168_cooccur_recs" -> ((s, dir) => {
      import s.implicits._
      // ordered co-occurrence pairs generated INSIDE each basket from
      // one grouped aggregation instead of the distinct + self-join on
      // the basket key (§2.4 — the r17 frequentCoEdges/q136 rewrite):
      // the sorted DISTINCT per-order part list emits, for positions
      // i < j, both (ps[i], ps[j]) and (ps[j], ps[i]) — exactly the
      // item =!= rec rows the join produced, once per order each
      val n = size(col("ps"))
      val co = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(array_distinct(collect_list(col("l_partkey"))))
          .as("ps"))
        .where(n >= 2)
        .select(explode(graft.operators.Pairs.inSorted(col("ps"), "item",
          "rec", bothDirections = true)).as("pr"))
        .groupBy(col("pr.item").as("item"), col("pr.rec").as("rec"))
        .agg(count(lit(1)).as("cnt"))
      val topk = new graft.llm.Similarity.TopKAggregator(3).toColumn
      co.select(col("item"), col("rec"), col("cnt").cast("double").as("score"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .mapValues { case (_, rec, s0) => (rec, s0) }
        .agg(topk.name("top"))
        .flatMap { case (item, top) =>
          top.iterator.zipWithIndex.map { case ((rec, s0), i) =>
            (item, rec, s0.toLong, (i + 1).toLong)
          }
        }
        .toDF("item", "rec", "cnt", "rnk")
    }),

    // Audience overlap matrix: qualify users into per-event-type segments
    // (≥ 15 events of the type), then count common members and Jaccard for
    // every segment pair. One hash aggregate qualifies segments; the
    // user-keyed self-join fans out by (segments per user)² ≤ |types|² —
    // never corpus²; per-segment sizes ride a broadcast. The float op is
    // one integer division per output pair.
    "q169_audience_overlap" -> ((s, dir) => {
      val seg = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= 15)
        .select(col("user_id"), col("event_type"))
      val sizes = seg.groupBy(col("event_type")).agg(count(lit(1)).as("sz"))
      val pairs = seg.select(col("user_id"), col("event_type").as("type_a"))
        .join(seg.select(col("user_id"), col("event_type").as("type_b")),
          "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_common"))
      pairs
        .join(broadcast(sizes.withColumnsRenamed(
          Map("event_type" -> "type_a", "sz" -> "sz_a"))), "type_a")
        .join(broadcast(sizes.withColumnsRenamed(
          Map("event_type" -> "type_b", "sz" -> "sz_b"))), "type_b")
        .select(col("type_a"), col("type_b"), col("n_common"),
          (col("n_common").cast("double") /
            (col("sz_a") + col("sz_b") - col("n_common"))).as("jaccard"))
    }),

    // Decile lift (gains table) without a global sort: score = customer
    // lifetime spend from exact cents; the 9 interpolated decile
    // boundaries come from one percentile aggregate and ride a broadcast,
    // and each customer's decile is a comparison count against that
    // 9-element array — the distributed substitute for ntile() OVER
    // (ORDER BY score), which would funnel 100 TB through one partition.
    // Per-decile averages divide exact sums once per decile.
    "q170_decile_lift" -> ((s, dir) => {
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).as("sp"))
        .select(col("sp"), col("sp").cast("double").as("score"))
      val bounds = spend.agg(expr(
        """percentile(score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))""")
        .as("bs"))
      val overall = spend.agg(
        sum(col("sp")).cast("double").as("tot"), count(lit(1)).as("ncust"))
      spend.crossJoin(broadcast(bounds))
        .select(col("sp"),
          (size(filter(col("bs"), b => b < col("score"))) + 1).as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("sp")).cast("double").as("dec_tot"))
        .crossJoin(broadcast(overall))
        .select(col("decile"), col("n_cust"),
          (col("dec_tot") / col("n_cust")).as("avg_spend"),
          ((col("dec_tot") / col("n_cust")) / (col("tot") / col("ncust")))
            .as("lift"))
    }),

    // Welch's t-test between every pair of event-type segments on `value`:
    // the A/B-significance twin of q157's chi-square. Counts and first two
    // moments accumulate as EXACT integer cents (the q95/q110 discipline —
    // order-independent partials at any parallelism); the t statistic and
    // Welch–Satterthwaite df are a fixed per-pair float expression over
    // those exact scalars, written operation-for-operation identically in
    // the oracle. Stats are a 5-row aggregate; the pairing is dim-only.
    "q171_welch_ttest" -> ((s, dir) => {
      val v = round(col("value") * 100).cast("decimal(19,0)")
      val g = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(v).as("sv"), sum(v * v).as("svv"))
      val nD = col("n").cast("double")
      val stats = g.select(col("event_type"), col("n"),
        (col("sv").cast("double") / nD).as("m"),
        ((nD * col("svv").cast("double") -
          col("sv").cast("double") * col("sv").cast("double")) /
          (nD * (nD - lit(1.0)))).as("s2"))
      val a = stats.columns.foldLeft(stats)((d, n) => d.withColumnRenamed(n, "a_" + n))
      val b = stats.columns.foldLeft(stats)((d, n) => d.withColumnRenamed(n, "b_" + n))
      val sea = col("a_s2") / col("a_n").cast("double")
      val seb = col("b_s2") / col("b_n").cast("double")
      a.join(b, col("a_event_type") < col("b_event_type"))
        .select(col("a_event_type").as("type_a"),
          col("b_event_type").as("type_b"),
          ((col("a_m") - col("b_m")) / sqrt(sea + seb)).as("t_stat"),
          ((sea + seb) * (sea + seb) /
            (sea * sea / (col("a_n").cast("double") - lit(1.0)) +
             seb * seb / (col("b_n").cast("double") - lit(1.0)))).as("df"))
    }),

    // Holt linear-trend smoothing (double exponential): the level+trend
    // extension of q158's EWMA — per-user state folds left over the
    // (ts, event_id)-ordered values with l' = α·x + (1−α)(l+t),
    // t' = β(l'−l) + (1−β)t, seeded l = v₂, t = v₂ − v₁. Same
    // bit-determinism argument as q158: one fixed IEEE op sequence per
    // user regardless of parallelism; the oracle walks the identical
    // recurrence with a recursive CTE (scalar-per-step, immune to
    // DuckDB's vectorized-lambda state crossover). Output includes the
    // one-step-ahead forecast l + t.
    "q172_holt_trend" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("user_id"),
          struct(unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
            .as("ev"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("ev")).as("evs"))
        .filter(size(col("evs")) >= 2)
        .select(col("user_id"), size(col("evs")).cast("long").as("n_events"),
          expr("""aggregate(
              slice(transform(sort_array(evs), e -> e.value), 3, size(evs) - 2),
              named_struct(
                'l', element_at(transform(sort_array(evs), e -> e.value), 2),
                't', element_at(transform(sort_array(evs), e -> e.value), 2)
                   - element_at(transform(sort_array(evs), e -> e.value), 1)),
              (acc, x) -> named_struct(
                'l', CAST(0.3 AS DOUBLE) * x
                   + CAST(0.7 AS DOUBLE) * (acc.l + acc.t),
                't', CAST(0.1 AS DOUBLE)
                       * ((CAST(0.3 AS DOUBLE) * x
                           + CAST(0.7 AS DOUBLE) * (acc.l + acc.t)) - acc.l)
                   + CAST(0.9 AS DOUBLE) * acc.t),
              acc -> named_struct('level', acc.l, 'trend', acc.t,
                                  'forecast', acc.l + acc.t))""").as("h"))
        .select(col("user_id"), col("n_events"),
          col("h.level").as("level"), col("h.trend").as("trend"),
          col("h.forecast").as("forecast"))
    }),

    // Recursive CTE (Spark 4's WITH RECURSIVE): a data-driven monthly
    // calendar spine — anchor and bound derive from the fact table, the
    // recursion steps one month at a time, and a left join gap-fills
    // zero-order months. The recursion depth is |months| (tens), never
    // data-sized; the fact table is touched by exactly one hash
    // aggregate. Complements q102's sequence()-based gap fill with the
    // full SQL-standard iterative form.
    "q173_recursive_spine" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q173_orders")
      // Anchor/bound collect as TWO SCALARS first: inside the recursion
      // they would be re-joined (and the orders aggregate re-planned) at
      // EVERY step — ~80 iterations × a corpus aggregate. As literals the
      // recursion is pure month arithmetic; the corpus is scanned once,
      // by the rev aggregate.
      val Array(lo, hi) = s.sql(
        """SELECT CAST(date_trunc('month', min(o_orderdate)) AS STRING),
                  CAST(date_trunc('month', max(o_orderdate)) AS STRING)
           FROM q173_orders""").head().toSeq.map(_.toString).toArray
      s.sql(s"""WITH RECURSIVE months(m) AS (
            SELECT TIMESTAMP '$lo' AS m
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM months
            WHERE m < TIMESTAMP '$hi'),
          rev AS (
            SELECT date_trunc('month', o_orderdate) AS mm,
              sum(CAST(o_totalprice AS DECIMAL(14,2))) AS r, count(*) AS n
            FROM q173_orders GROUP BY 1)
          SELECT CAST(months.m AS TIMESTAMP_NTZ) AS month,
            CAST(coalesce(r, 0) AS DOUBLE) AS revenue,
            CAST(coalesce(n, 0) AS BIGINT) AS n_orders
          FROM months LEFT JOIN rev ON rev.mm = months.m""")
    }),

    // Correlated LATERAL subquery with ORDER BY + LIMIT: top-2 orders per
    // customer through the SQL-standard lateral form (the DataFrame twin
    // is q116's top-k per group). Catalyst rewrites the correlation into
    // a per-key ranked join — no cartesian (PlanSpec's census asserts
    // that globally); ties break on o_orderkey so the pick is
    // deterministic on both engines.
    "q174_lateral_topn" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("q174_customer")
      Tables.orders(s, dir).createOrReplaceTempView("q174_orders")
      s.sql("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          FROM q174_customer c,
          LATERAL (SELECT o_orderkey, o_totalprice FROM q174_orders o
                   WHERE o.o_custkey = c.c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""")
    }),

    // Entity resolution end-to-end (the golden-record capstone over
    // q166's linkage): block → score → link → cluster → survivorship.
    // Links are q166's blocked levenshtein+balance matches; clusters come
    // from the adaptive connected-components operator (driver union-find
    // under 16 MB of edges, large-star/small-star beyond); unlinked
    // customers stay singleton clusters via one left join. Survivorship
    // picks the min-id member as representative (its attributes arrive by
    // one co-keyed join) and folds balances as exact cents. Everything is
    // keyed joins + hash aggs; cluster count ≤ |customers|.
    "q175_entity_resolution" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      // q166's deletion-band candidates (complete for the lev ≤ 2 link
      // rule, corpus-linear candidate volume), then the exact link filter
      val cand = graft.operators.Linkage.candidatePairs(
        c, idCol = "c_custkey", nameCol = "c_name",
        blockCols = Seq("c_nationkey", "c_mktsegment"))
      val attrs = c.select(col("c_custkey"), col("c_name"), col("cents"))
      val a = attrs.columns.foldLeft(attrs)((d, n) => d.withColumnRenamed(n, "a_" + n))
      val b = attrs.columns.foldLeft(attrs)((d, n) => d.withColumnRenamed(n, "b_" + n))
      val links = cand
        .join(a, col("id_a") === col("a_c_custkey"))
        .join(b, col("id_b") === col("b_c_custkey"))
        // integer band FIRST: ~10× fewer pairs reach the O(|s|²) DP
        .filter(abs(col("a_cents") - col("b_cents")) < 50000L &&
          levenshtein(col("a_c_name"), col("b_c_name")) <= 2)
        .select(col("id_a"), col("id_b"))
      val cc = graft.llm.Dedup.connectedComponents(links, "id_a", "id_b")
        .withColumnsRenamed(Map("node" -> "c_custkey"))
      val members = c.join(cc, Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("cents"),
          coalesce(col("cluster_id"), col("c_custkey")).as("cluster_id"))
      val golden = members.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("cents")).as("total_cents"),
          max(col("cents")).as("max_cents"))
      golden
        .join(c.select(col("c_custkey").as("cluster_id"),
          col("c_name").as("rep_name"), col("c_mktsegment").as("rep_segment")),
          Seq("cluster_id"))
        .select(col("cluster_id"), col("n_members"),
          col("rep_name"), col("rep_segment"),
          (col("total_cents").cast("double") / 100.0).as("total_bal"),
          (col("max_cents").cast("double") / 100.0).as("max_bal"))
    }),

    // Sequential pattern mining: top-20 event-type trigrams across user
    // journeys (the 3-gram extension of q122's bigram transitions). The
    // lead windows partition by user — in-partition sorts only, never a
    // global ordering of the corpus; the final top-20 is a TakeOrdered
    // (k-bounded) over the |types|³-bounded trigram counts, ties broken
    // lexicographically so the cut is deterministic.
    "q176_trigram_patterns" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("trigram"))
        .groupBy(col("trigram"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("trigram").asc)
        .limit(20)
    }),

    // Weighted median (lower): per return flag, the price at which half
    // the total QUANTITY mass sits at-or-below — the weighted twin of
    // q53's unweighted percentile. Cumulative weights run in a window
    // partitioned by the group key (in-partition sort only); the
    // half-mass test is exact integer arithmetic (2·cumw ≥ totw — no
    // float halving), so the picked row is unambiguous on both engines.
    "q177_weighted_median" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity")).cast("long").as("qw"))
      val tot = li.groupBy(col("l_returnflag"))
        .agg(sum(col("qw")).as("totw"))
      li.withColumn("cumw", sum(col("qw")).over(w))
        .join(broadcast(tot), Seq("l_returnflag"))
        .filter(col("cumw") * 2 >= col("totw"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("l_extendedprice")).as("w_median"),
          max(col("totw")).as("total_w"))
    }),

    // Key-skew diagnostics (the report you run BEFORE choosing q113's
    // salting): per join-key distribution — key count, top-key share,
    // p99/p50 key-size ratio, and an exact Gini coefficient. Global size
    // ranks come from the q138 distributed prefix-sum (percentile-bucket
    // the key-size table, offsets through a ≤21-row window, ranks inside
    // bucket partitions) — the corpus and the key table never sort
    // globally. Gini folds rank·size as exact integers; one float
    // division per output row.
    "q178_skew_report" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def report(dimName: String, keyCol: String): DataFrame = {
        val sizes = Tables.lineitem(s, dir)
          .groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("sz"))
        val qs = (1 until 20).map(i => i / 20.0).mkString(", ")
        val bounds = sizes.agg(
          expr(s"percentile(CAST(sz AS DOUBLE), array($qs))").as("bqs"),
          expr("percentile(CAST(sz AS DOUBLE), 0.5)").as("p50"),
          expr("percentile(CAST(sz AS DOUBLE), 0.99)").as("p99"),
          sum(col("sz")).as("stot"), max(col("sz")).as("smax"),
          count(lit(1)).as("n"))
        val withB = sizes.crossJoin(broadcast(bounds))
          .withColumn("bucket",
            expr("size(filter(bqs, q -> q < CAST(sz AS DOUBLE)))").cast("long"))
        val bPrefix = withB.groupBy(col("bucket"))
          .agg(count(lit(1)).as("bn"))
          .withColumn("offset", coalesce(
            sum(col("bn")).over(Window.orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
          .select(col("bucket"), col("offset"))
        val wRank = Window.partitionBy(col("bucket"))
          .orderBy(col("sz"), col("k"))
        withB.join(broadcast(bPrefix), Seq("bucket"))
          .withColumn("rnk", col("offset") + row_number().over(wRank))
          .agg(
            first(col("n")).as("n_keys"),
            first(col("stot")).as("total_rows"),
            (first(col("smax")).cast("double") / first(col("stot")))
              .as("top_share"),
            (first(col("p99")) / first(col("p50"))).as("p99_p50"),
            ((lit(2.0) * sum(col("rnk") * col("sz")).cast("double") -
              (first(col("n")) + lit(1)).cast("double") *
                first(col("stot")).cast("double")) /
              (first(col("n")).cast("double") *
                first(col("stot")).cast("double"))).as("gini"))
          .select(lit(dimName).as("dim"), col("n_keys"), col("total_rows"),
            col("top_share"), col("p99_p50"), col("gini"))
      }
      report("l_partkey", "l_partkey").union(report("l_suppkey", "l_suppkey"))
    }),

    // Classical seasonal decomposition (additive, STL-lite): daily order
    // revenue splits into a centered 7-day moving-average trend, a
    // day-of-week seasonal mean of the detrended series, and the
    // residual. The corpus collapses to one row per DAY in the first
    // hash aggregate; every window after that runs over the bounded
    // daily table (≤ few thousand rows — the q138 bounded-aggregate
    // argument), partitioned where possible (seasonal means by dow).
    // Revenue is exact cents; the trend mean divides an exact 7-day sum.
    "q179_seasonal_decompose" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, dir)
        .groupBy(expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
          .cast("long").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      // detrended value as an exact integer numerator: detr = cents − s7/7
      // = (7·cents − s7)/7 — so the seasonal MEAN is an exact-integer sum
      // divided once in double (order-independent at any parallelism; a
      // plain avg() of double residuals would be partition-order float
      // summation, the thing the q95 discipline forbids).
      val wTrend = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val wDow = Window.partitionBy(col("dow"))
      daily
        .withColumn("n7", count(lit(1)).over(wTrend))
        .withColumn("s7", sum(col("cents")).over(wTrend))
        .filter(col("n7") === 7) // full centered weeks only
        .withColumn("num", lit(7) * col("cents") - col("s7"))
        .withColumn("dow", pmod(col("day") + 4, lit(7))) // 1970-01-01 = Thu
        .withColumn("detr", col("num").cast("double") / 700.0)
        .withColumn("seasonal",
          sum(col("num")).over(wDow).cast("double") /
            (lit(700.0) * count(lit(1)).over(wDow)))
        .select(col("day"),
          (col("cents").cast("double") / 100.0).as("revenue"),
          (col("s7").cast("double") / 700.0).as("trend"),
          col("seasonal"),
          (col("detr") - col("seasonal")).as("residual"))
    }),

    // Join-cardinality profiler (the optimizer-statistics operator you
    // run before sizing a shuffle): for each candidate key, the EXACT
    // output cardinality of the lineitem self-join on that key computed
    // WITHOUT executing it — Σₖ cnt(k)² over the per-key count table —
    // plus distinct keys and max fan-out. One hash aggregate per dim;
    // cost is |keys|, not the join's output (which for suppkey here is
    // ~n²/|supp| rows — the profiler tells you that, and whether q113's
    // salting is warranted, BEFORE you pay for it). Σ cnt² accumulates
    // in decimal(38,0): exact at any corpus size where the join itself
    // is even conceivable.
    "q180_join_cardinality" -> ((s, dir) => {
      def profile(dimName: String, keyCol: String): DataFrame =
        Tables.lineitem(s, dir)
          .groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c").cast("decimal(19,0)") * col("c")
              .cast("decimal(19,0)")).cast("decimal(38,0)").cast("double")
              .as("self_join_rows"),
            count(lit(1)).as("n_keys"),
            max(col("c")).as("max_fanout"))
          .select(lit(dimName).as("dim"), col("self_join_rows"),
            col("n_keys"), col("max_fanout"))
      profile("l_partkey", "l_partkey")
        .union(profile("l_suppkey", "l_suppkey"))
        .union(profile("l_orderkey", "l_orderkey"))
    }),

    // Cohort LTV curves: users cohorted by first-seen week, purchase
    // revenue folded by cohort-week × age-week, cumulative LTV along age
    // inside each cohort partition (never a global window), cohort sizes
    // broadcast back. Revenue accumulates as exact cents; the running
    // sum crosses into double once per output row. The revenue twin of
    // q104's retention-rate triangle.
    "q181_cohort_ltv" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"),
          expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
            .cast("long").as("day"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(floor(min(col("day")) / 7).as("cohort_week"),
          min(col("day")).as("c_day"))
      val sizes = cohort.groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("cohort_users"))
      val rev = ev.filter(col("event_type") === "purchase")
        .join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"),
          floor((col("day") - col("c_day")) / 7).as("age_week"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy(col("cohort_week")).orderBy(col("age_week"))
        .rowsBetween(Window.unboundedPreceding, 0)
      rev
        .withColumn("cum_cents", sum(col("cents")).over(w))
        .join(broadcast(sizes), Seq("cohort_week"))
        .select(col("cohort_week"), col("age_week"), col("cohort_users"),
          (col("cents").cast("double") / 100.0).as("revenue"),
          (col("cum_cents").cast("double") / 100.0).as("cum_revenue"))
    }),

    // Forecast backtest (seasonal-naive baseline): forecast(day) =
    // actual(day − 7), scored with the aggregate error metrics that stay
    // EXACT under distribution — MAE, WAPE and bias are ratios of exact
    // integer-cent sums (a per-row MAPE mean would be partition-order
    // float summation). The day−7 alignment is a self-join on the
    // bounded daily table, not a lag window — no global ordering
    // anywhere.
    "q182_forecast_backtest" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
          .cast("long").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val f = daily.select(col("day"), col("cents"))
        .join(daily.select((col("day") + 7).as("day"),
          col("cents").as("fc")), Seq("day"))
      f.agg(count(lit(1)).as("n_days"),
          sum(abs(col("cents") - col("fc"))).as("sae"),
          sum(col("cents") - col("fc")).as("se"),
          sum(col("cents")).as("sa"))
        .select(col("n_days"),
          (col("sae").cast("double") / 100.0 / col("n_days")).as("mae"),
          (col("sae").cast("double") / col("sa")).as("wape"),
          (col("se").cast("double") / col("sa")).as("bias"))
    }),

    // Referential-integrity audit: orphan counts for every foreign-key
    // edge of the star schema in one result — each edge is a left-anti
    // join of child keys against the parent, dims ride broadcasts, the
    // two fact-fact edges stay co-keyed. The relational completion of
    // q164's single-table constraint suite (Deequ's isContainedIn /
    // hasReferentialIntegrity checks).
    "q183_referential_integrity" -> ((s, dir) => {
      def edge(name: String, child: DataFrame, childKey: String,
               parent: DataFrame, parentKey: String,
               broadcastParent: Boolean): DataFrame = {
        val p = parent.select(col(parentKey).as(childKey))
        val pp = if (broadcastParent) broadcast(p) else p
        child.select(col(childKey))
          .join(pp, Seq(childKey), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .crossJoin(broadcast(
            child.agg(count(lit(1)).as("n_child"))))
          .select(lit(name).as("fk_edge"), col("n_orphans"), col("n_child"))
      }
      val li = Tables.lineitem(s, dir)
      edge("lineitem->orders", li.select(col("l_orderkey")), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey", broadcastParent = false)
        .union(edge("lineitem->part", li.select(col("l_partkey")), "l_partkey",
          Tables.part(s, dir), "p_partkey", broadcastParent = true))
        .union(edge("lineitem->supplier", li.select(col("l_suppkey")),
          "l_suppkey", Tables.supplier(s, dir), "s_suppkey",
          broadcastParent = true))
        .union(edge("orders->customer",
          Tables.orders(s, dir).select(col("o_custkey")), "o_custkey",
          Tables.customer(s, dir), "c_custkey", broadcastParent = true))
        .union(edge("customer->nation",
          Tables.customer(s, dir).select(col("c_nationkey")), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey", broadcastParent = true))
    }),

    // Telemetry debounce (burst-first dedup within tolerance): keep an
    // event iff it STARTS a burst — its gap from the previous event of
    // the same (user, type) exceeds 6 h (or it is the key's first). The
    // batch form of sensor/heartbeat dedup: one lag window partitioned
    // by the dedup key (in-partition sort only), rows never leave their
    // key's partition. Burst (adjacent-gap) semantics, not greedy
    // measured-from-last-kept — the greedy form is a per-key ordered
    // fold and lives in `streaming/StreamingDebounce` (spec-proven
    // against a driver-side last-kept reference).
    "q184_debounce" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap").isNull || col("gap") > 21600000000L)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_kept"), min(col("event_id")).as("first_id"))
    }),

    // Benford first-digit test (fraud-detection screening): the leading
    // significant digit comes from the STRING of exact integer cents —
    // never a float log10, whose last-ulp behavior at powers of ten is
    // library-specific. Expected shares are the nine Benford constants
    // as shared double literals (identical parse on both engines); one
    // hash aggregate over the corpus, float math once per digit row. No
    // float total is emitted — a 9-term float sum has no canonical
    // order; the per-digit contributions are the deterministic output.
    "q185_benford" -> ((s, dir) => {
      import s.implicits._
      val probs = Seq(
        1 -> 0.30102999566398119, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829993, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514).toDF("digit", "p")
      val obs = Tables.orders(s, dir)
        .select(substring(round(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum(col("n_obs")).as("n"))
      obs.join(broadcast(probs), Seq("digit"))
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          (col("n").cast("double") * col("p")).as("expected"),
          ((col("n_obs").cast("double") - col("n").cast("double") * col("p")) *
           (col("n_obs").cast("double") - col("n").cast("double") * col("p")) /
           (col("n").cast("double") * col("p"))).as("contrib"))
    }),

    // Partition-pruning statistics (the diagnostic that quantifies what
    // q99's Z-order layout buys): assign rows to 64 simulated files
    // under two layouts — ingest order (orderkey ranges) vs
    // date-clustered (ship-day ranges) — collect per-file min/max
    // zone maps in one hash aggregate each, and count the files a
    // one-week ship-date predicate can skip. At 100 TB this query IS
    // the cheap pre-flight that decides whether re-clustering pays:
    // zone maps are |files| rows, the corpus is touched by two
    // aggregates, the skip test is pure arithmetic on the maps.
    "q186_pruning_stats" -> ((s, dir) => {
      val day = expr("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')")
        .cast("long")
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), day.as("day"))
      val bounds = li.agg(min(col("day")).as("dLo"), max(col("day")).as("dHi"),
        min(col("l_orderkey")).as("oLo"), max(col("l_orderkey")).as("oHi"))
      // predicate: the 8th week of the corpus's date range
      def stats(layout: String, fileCol: org.apache.spark.sql.Column) =
        li.crossJoin(broadcast(bounds))
          .select(fileCol.as("file"), col("day"), col("dLo"))
          .groupBy(col("file"))
          .agg(min(col("day")).as("mn"), max(col("day")).as("mx"),
            first(col("dLo")).as("dLo"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("mx") < col("dLo") + 49 ||
                     col("mn") > col("dLo") + 55, 1L).otherwise(0L))
              .as("n_skippable"))
          .select(lit(layout).as("layout"), col("n_files"), col("n_skippable"),
            (col("n_skippable").cast("double") / col("n_files")).as("skip_frac"))
      val natural = stats("ingest_order",
        floor((col("l_orderkey") - col("oLo")) * 64 /
          (col("oHi") - col("oLo") + 1)).cast("long"))
      val clustered = stats("date_clustered",
        floor((col("day") - col("dLo")) * 64 /
          (col("dHi") - col("dLo") + 1)).cast("long"))
      natural.union(clustered)
    }),

    // Funnel time-to-convert: the latency distribution q103's conversion
    // counts don't show — per-user first-qualifying-step timestamps from
    // the same keyed min-aggregate chain (each step joins the previous
    // step's survivors, co-keyed on user), then interpolated percentiles
    // over the exact integer microsecond latencies. One row out; every
    // join input is a per-user aggregate, so step joins shrink as the
    // funnel narrows.
    "q187_funnel_latency" -> ((s, dir) => {
      val gap = 43200000000L
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("us") > col("t1") && col("us") - col("t1") <= gap)
        .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("us") > col("t2") && col("us") - col("t2") <= gap)
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      s3.join(s2, Seq("user_id")).join(s1, Seq("user_id"))
        .select((col("t3") - col("t1")).as("total_us"),
          (col("t2") - col("t1")).as("step1_us"),
          (col("t3") - col("t2")).as("step2_us"))
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile(total_us, 0.5)").as("p50_total_us"),
          expr("percentile(total_us, 0.9)").as("p90_total_us"),
          expr("percentile(step1_us, 0.5)").as("p50_step1_us"),
          expr("percentile(step2_us, 0.5)").as("p50_step2_us"))
    }),

    // New-vs-returning revenue split per month: each order classified
    // against its customer's first-ever order day (one per-customer
    // aggregate, co-keyed join back — never a window over the fact
    // table), revenue folded as exact cents per month × class. The
    // standard e-commerce health readout.
    "q188_new_vs_returning" -> ((s, dir) => {
      val day = expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
        .cast("long")
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), day.as("day"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val firstDay = o.groupBy(col("o_custkey"))
        .agg(min(col("day")).as("first_day"))
      o.join(firstDay, Seq("o_custkey"))
        .select(floor(col("day") / 30).as("month_bucket"),
          when(col("day") === col("first_day"), "new").otherwise("returning")
            .as("cust_class"),
          col("cents"))
        .groupBy(col("month_bucket"), col("cust_class"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("cents")).cast("double") / 100.0).as("revenue"))
    }),

    // Group-aware (leakage-safe) train/val/test split: folds assigned by
    // the GROUP key (user), not the row, so correlated rows can never
    // straddle a split — the ML-hygiene twin of q85's per-document
    // split. The leakage metric is COMPUTED into the output (users in
    // >1 split — structurally zero) rather than asserted in a test: the
    // oracle hash re-proves it on every run. Same portable md5 hash as
    // q85, so folds are engine- and parallelism-independent.
    "q189_grouped_split" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"))
        .withColumn("split", graft.llm.TextFunctions.splitAssign(col("user_id")))
      val leaky = ev.select(col("user_id"), col("split")).distinct()
        .groupBy(col("user_id"))
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("leaky_users"))
      ev.groupBy(col("split"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .crossJoin(broadcast(leaky))
    }),

    // Sample-ratio-mismatch (SRM) check — the experimentation-platform
    // health test run before trusting any A/B readout: USER-level
    // assignment counts from q189's hash split vs the designed 90/5/5
    // allocation, scored with per-cell chi-square contributions (the
    // q157/q185 discipline: exact integer counts, fixed float expression
    // per cell, no canonical-order float total emitted). One per-user
    // distinct, one 3-row aggregate.
    "q190_srm_check" -> ((s, dir) => {
      import s.implicits._
      val designed = Seq(("train", 0.90), ("val", 0.05), ("test", 0.05))
        .toDF("split", "p")
      val users = Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .withColumn("split", graft.llm.TextFunctions.splitAssign(col("user_id")))
      val obs = users.groupBy(col("split")).agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum(col("n_obs")).as("n"))
      obs.join(broadcast(designed), Seq("split"))
        .crossJoin(broadcast(tot))
        .select(col("split"), col("n_obs"),
          (col("n").cast("double") * col("p")).as("expected"),
          ((col("n_obs").cast("double") - col("n").cast("double") * col("p")) *
           (col("n_obs").cast("double") - col("n").cast("double") * col("p")) /
           (col("n").cast("double") * col("p"))).as("contrib"))
    }),

    // Bottom-k quantile sketch: per-group medians from a DETERMINISTIC
    // 256-row sample — rows with the smallest content-hash priorities,
    // kept by the mergeable BottomKAggregator (k rows of state per
    // partial, the sketch shape that survives any partitioning). Unlike
    // a random reservoir the sample is reproducible, so the oracle
    // re-derives the identical sketch (rank-by-hash + LIMIT) — and the
    // rank-error claim is asserted IN the output: the sample median must
    // land inside the exact p35–p65 corridor (k = 256 → ~6 % rank sd).
    "q191_bottomk_quantile" -> ((s, dir) => {
      import s.implicits._
      val kN = 256
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"),
          graft.llm.TextFunctions.portableHash(
            col("event_id").cast("string"), 7).as("prio"))
        .as[(String, Long, Double, Long)]
      val bk = new graft.operators.BottomKAggregator(kN).toColumn
      val sampled = ev.groupByKey(_._1)
        .mapValues { case (_, id, v, prio) => (prio, id, v) }
        .agg(bk.name("sample"))
        .flatMap { case (t, sample) => sample.map(x => (t, x._3)) }
        .toDF("event_type", "v")
      val est = sampled.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sample"),
          expr("percentile(v, 0.5)").as("est_p50"))
      val exact = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("exact_p50"),
          expr("percentile(value, 0.35)").as("lo"),
          expr("percentile(value, 0.65)").as("hi"))
      est.join(broadcast(exact), Seq("event_type"))
        .select(col("event_type"), col("n_sample"), col("est_p50"),
          col("exact_p50"),
          (col("est_p50") >= col("lo") && col("est_p50") <= col("hi"))
            .cast("int").as("within_bound"))
    }),

    // Rolling (windowed) median — a percentile window aggregate, which
    // Spark lacks natively: trailing 7-row median of daily revenue per
    // priority, synthesized as sort-and-interpolate over the frame's
    // collect_list. The frame holds ≤ 7 exact-cent values and the
    // interpolation rank over ≤ 7 rows is always k or k.5, so BOTH
    // textbook interpolation forms are exact and identical — the
    // hand-rolled expression cannot diverge from DuckDB's windowed
    // quantile_cont in any last ulp. Windows partition by priority; the
    // corpus collapses to |priority|×|days| rows first.
    "q192_rolling_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"),
          expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
            .cast("long").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
        .rowsBetween(-6, 0)
      daily
        .withColumn("arr", collect_list(col("cents").cast("double")).over(w))
        .select(col("o_orderpriority"), col("day"),
          (col("cents").cast("double") / 100.0).as("revenue"),
          expr("""
            (CASE WHEN size(arr) = 1 THEN element_at(array_sort(arr), 1)
             ELSE element_at(array_sort(arr),
                    CAST(floor(0.5 * (size(arr) - 1)) AS INT) + 1)
                  * (1.0 - (0.5 * (size(arr) - 1)
                            - floor(0.5 * (size(arr) - 1))))
                + element_at(array_sort(arr),
                    CAST(floor(0.5 * (size(arr) - 1)) AS INT) + 2)
                  * (0.5 * (size(arr) - 1)
                     - floor(0.5 * (size(arr) - 1)))
             END) / 100.0""").as("med7"))
    }),

    // Sorted-neighborhood linkage — the ER literature's standard
    // bounded-candidate alternative to blocking (q166's contrast):
    // order the corpus by the name key, slide a w=10 window, score every
    // in-window pair with q166's Fellegi–Sunter rule. Candidates are
    // exactly (w−1)·n − w(w−1)/2, linear BY CONSTRUCTION (the closed
    // form LinkageScaleSpec asserts); the global rank is the distributed
    // zipWithIndex (`operators.Ids`, range shuffle + partition prefix
    // sums), never a single-partition ranking window, and in-window
    // pairing is an equi-join on adjacent rank buckets.
    "q193_sorted_neighborhood" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(
        col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val cand = graft.operators.Linkage.sortedNeighborhoodPairs(
        c, idCol = "c_custkey", sortCol = "c_name", w = 10)
      val a = c.columns.foldLeft(c)((d, n) => d.withColumnRenamed(n, "a_" + n))
      val b = c.columns.foldLeft(c)((d, n) => d.withColumnRenamed(n, "b_" + n))
      cand
        .join(a, col("id_a") === col("a_c_custkey"))
        .join(b, col("id_b") === col("b_c_custkey"))
        .withColumn("lev", levenshtein(col("a_c_name"), col("b_c_name")))
        .withColumn("score",
          when(col("lev") <= 2, lit(2)).otherwise(lit(0)) +
          when(abs(col("a_cents") - col("b_cents")) < 50000L, lit(1))
            .otherwise(lit(0)))
        .filter(col("score") >= 2)
        .select(col("id_a"), col("id_b"), col("lev"), col("score"))
    }),

    // Winsorized robust stats — the clamp-at-percentiles twin of q167's
    // MAD screen (standard outlier treatment before a mean is trusted):
    // per-priority p05/p95 of order value in exact cents (the q53
    // interpolated-percentile contract both engines compute
    // identically), each value clamped to [lo, hi], clamped sum carried
    // on the 1e-6 grid as exact integers (cents ≤ ~1e8, ×1e6 stays
    // inside 2⁵³ — partition-order-free), mean divided out once. Two
    // hash aggregates + one broadcast join; nothing sorts the corpus.
    "q225_winsorized_stats" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val b = o.groupBy(col("o_orderpriority")).agg(
        expr("percentile(CAST(cents AS DOUBLE), CAST(0.05 AS DOUBLE))").as("lo"),
        expr("percentile(CAST(cents AS DOUBLE), CAST(0.95 AS DOUBLE))").as("hi"))
      o.join(broadcast(b), "o_orderpriority")
        .select(col("o_orderpriority"), col("lo"), col("hi"),
          expr("CAST(floor(least(greatest(CAST(cents AS DOUBLE), lo), hi) * 1e6) AS BIGINT)")
            .as("cg"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("cg")).as("sg"),
          first(col("lo")).as("lo_c"), first(col("hi")).as("hi_c"))
        .select(col("o_orderpriority"), col("n"),
          (col("lo_c") / lit(100.0)).as("lo_price"),
          (col("hi_c") / lit(100.0)).as("hi_price"),
          (col("sg").cast("double") / col("n").cast("double") / lit(1e6) / lit(100.0))
            .as("wins_mean"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q164_dq_suite" ->
      """WITH a AS (
           SELECT count(*) AS n, count(l_quantity) AS n_qty,
             count(DISTINCT (l_orderkey, l_linenumber)) AS n_pk,
             sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END)
               AS n_disc_ok,
             min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
             sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS sum_price
           FROM lineitem)
         SELECT 'size_ge_1000' AS check_name, CAST(n AS DOUBLE) AS metric,
           CAST(n >= 1000 AS INT) AS passed FROM a
         UNION ALL SELECT 'completeness_l_quantity',
           CAST(n_qty AS DOUBLE) / n, CAST(n_qty = n AS INT) FROM a
         UNION ALL SELECT 'uniqueness_order_line',
           CAST(n_pk AS DOUBLE) / n, CAST(n_pk = n AS INT) FROM a
         UNION ALL SELECT 'compliance_discount_0_to_0.1',
           CAST(n_disc_ok AS DOUBLE) / n, CAST(n_disc_ok = n AS INT) FROM a
         UNION ALL SELECT 'min_quantity_ge_1', CAST(min_qty AS DOUBLE),
           CAST(min_qty >= 1.0 AS INT) FROM a
         UNION ALL SELECT 'max_quantity_le_50', CAST(max_qty AS DOUBLE),
           CAST(max_qty <= 50.0 AS INT) FROM a
         UNION ALL SELECT 'mean_price_in_range', CAST(sum_price AS DOUBLE) / n,
           CAST(CAST(sum_price AS DOUBLE) / n BETWEEN 1000.0 AND 100000.0
             AS INT) FROM a""",
    "q165_incremental_view" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01' THEN 1
                         WHEN l_linenumber % 7 = 0 THEN -1 ELSE 1 END
                    * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE)
             AS sum_qty,
           CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01' THEN 1
                         WHEN l_linenumber % 7 = 0 THEN -1 ELSE 1 END)
             AS BIGINT) AS n_rows
         FROM lineitem GROUP BY 1, 2""",
    "q166_record_linkage" ->
      """WITH c AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
         p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             levenshtein(a.c_name, b.c_name) AS lev,
             (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 2 ELSE 0 END
              + CASE WHEN abs(a.cents - b.cents) < 50000 THEN 1 ELSE 0 END)
               AS score
           FROM c a JOIN c b
             ON a.c_nationkey = b.c_nationkey
            AND a.c_mktsegment = b.c_mktsegment
            AND a.c_custkey < b.c_custkey)
         SELECT id_a, id_b, CAST(lev AS INT) AS lev, CAST(score AS INT)
           AS score FROM p WHERE score >= 2""",
    "q167_mad_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY 1),
         dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
           FROM events e JOIN med m USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
           FROM dev GROUP BY 1)
         SELECT d.event_id, d.event_type, d.value,
           0.6745 * (d.value - d.med) / m.mad AS robust_z
         FROM dev d JOIN mad m USING (event_type)
         WHERE abs(0.6745 * (d.value - d.med) / m.mad) > 3.5""",
    "q168_cooccur_recs" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         co AS (SELECT a.pk AS item, b.pk AS rec, count(*) AS cnt
           FROM bi a JOIN bi b ON a.ok = b.ok AND a.pk <> b.pk
           GROUP BY 1, 2),
         r AS (SELECT item, rec, cnt,
             row_number() OVER (PARTITION BY item ORDER BY cnt DESC, rec)
               AS rnk
           FROM co)
         SELECT item, rec, CAST(cnt AS BIGINT) AS cnt,
           CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3""",
    "q169_audience_overlap" ->
      """WITH seg AS (SELECT user_id, event_type FROM events
           GROUP BY 1, 2 HAVING count(*) >= 15),
         sizes AS (SELECT event_type, count(*) AS sz FROM seg GROUP BY 1),
         pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_common
           FROM seg a JOIN seg b
             ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.event_type = type_a
         JOIN sizes sb ON sb.event_type = type_b""",
    "q170_decile_lift" ->
      """WITH spend AS (SELECT o_custkey,
             sum(CAST(o_totalprice AS DECIMAL(14,2))) AS sp,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR)
               AS DOUBLE) AS score
           FROM orders GROUP BY 1),
         bounds AS (SELECT quantile_cont(score,
             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM spend),
         overall AS (SELECT CAST(CAST(sum(sp) AS VARCHAR) AS DOUBLE) AS tot,
             count(*) AS ncust FROM spend),
         dx AS (SELECT sp,
             len(list_filter(bs, b -> b < score)) + 1 AS decile
           FROM spend, bounds),
         agg AS (SELECT decile, count(*) AS n_cust,
             CAST(CAST(sum(sp) AS VARCHAR) AS DOUBLE) AS dec_tot
           FROM dx GROUP BY 1)
         SELECT CAST(decile AS INT) AS decile, CAST(n_cust AS BIGINT)
             AS n_cust,
           dec_tot / n_cust AS avg_spend,
           (dec_tot / n_cust) / (tot / ncust) AS lift
         FROM agg, overall""",
    "q171_welch_ttest" ->
      """WITH g AS (SELECT event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS DECIMAL(19,0))) AS sv,
             sum(CAST(round(value * 100) AS DECIMAL(19,0))
               * CAST(round(value * 100) AS DECIMAL(19,0))) AS svv
           FROM events GROUP BY 1),
         stats AS (SELECT event_type, n,
             CAST(CAST(sv AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS m,
             (CAST(n AS DOUBLE) * CAST(CAST(svv AS VARCHAR) AS DOUBLE)
              - CAST(CAST(sv AS VARCHAR) AS DOUBLE)
                * CAST(CAST(sv AS VARCHAR) AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS s2
           FROM g)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           (a.m - b.m) / sqrt(a.s2 / CAST(a.n AS DOUBLE)
                            + b.s2 / CAST(b.n AS DOUBLE)) AS t_stat,
           (a.s2 / CAST(a.n AS DOUBLE) + b.s2 / CAST(b.n AS DOUBLE))
             * (a.s2 / CAST(a.n AS DOUBLE) + b.s2 / CAST(b.n AS DOUBLE))
           / ((a.s2 / CAST(a.n AS DOUBLE)) * (a.s2 / CAST(a.n AS DOUBLE))
                / (CAST(a.n AS DOUBLE) - 1.0)
              + (b.s2 / CAST(b.n AS DOUBLE)) * (b.s2 / CAST(b.n AS DOUBLE))
                / (CAST(b.n AS DOUBLE) - 1.0)) AS df
         FROM stats a JOIN stats b ON a.event_type < b.event_type""",
    "q172_holt_trend" ->
      """WITH RECURSIVE e AS (SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events),
         counts AS (SELECT user_id, max(rn) AS n FROM e GROUP BY 1
           HAVING max(rn) >= 2),
         seed AS (SELECT e2.user_id, 2 AS rn, e2.value AS l,
             e2.value - e1.value AS t
           FROM e e1 JOIN e e2
             ON e1.user_id = e2.user_id AND e1.rn = 1 AND e2.rn = 2),
         walk AS (
           SELECT user_id, rn, l, t FROM seed
           UNION ALL
           SELECT w.user_id, w.rn + 1,
             CAST(0.3 AS DOUBLE) * e.value
               + CAST(0.7 AS DOUBLE) * (w.l + w.t),
             CAST(0.1 AS DOUBLE)
                 * ((CAST(0.3 AS DOUBLE) * e.value
                     + CAST(0.7 AS DOUBLE) * (w.l + w.t)) - w.l)
               + CAST(0.9 AS DOUBLE) * w.t
           FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
         SELECT w.user_id, CAST(c.n AS BIGINT) AS n_events,
           w.l AS level, w.t AS trend, w.l + w.t AS forecast
         FROM walk w JOIN counts c ON w.user_id = c.user_id AND w.rn = c.n""",
    "q173_recursive_spine" ->
      """WITH RECURSIVE bounds AS (
           SELECT date_trunc('month', min(o_orderdate)) AS lo,
                  date_trunc('month', max(o_orderdate)) AS hi
           FROM orders),
         months(m) AS (
           SELECT lo FROM bounds
           UNION ALL
           SELECT m + INTERVAL 1 MONTH FROM months, bounds WHERE m < hi),
         rev AS (
           SELECT date_trunc('month', o_orderdate) AS mm,
             sum(CAST(o_totalprice AS DECIMAL(14,2))) AS r, count(*) AS n
           FROM orders GROUP BY 1)
         SELECT months.m AS month,
           CAST(CAST(coalesce(r, 0) AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(coalesce(n, 0) AS BIGINT) AS n_orders
         FROM months LEFT JOIN rev ON rev.mm = months.m""",
    "q174_lateral_topn" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""",
    "q175_entity_resolution" ->
      """WITH RECURSIVE c AS (SELECT c_custkey, c_name, c_nationkey,
             c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer),
         links AS (SELECT a.c_custkey AS u, b.c_custkey AS v
           FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey
            AND a.c_mktsegment = b.c_mktsegment AND a.c_custkey < b.c_custkey
            AND levenshtein(a.c_name, b.c_name) <= 2
            AND abs(a.cents - b.cents) < 50000),
         sym AS (SELECT u, v FROM links UNION SELECT v, u FROM links),
         reach(node, r) AS (
           SELECT u, v FROM sym
           UNION
           SELECT reach.node, s.v FROM reach JOIN sym s ON s.u = reach.r),
         lbl AS (SELECT node, least(node, min(r)) AS cluster_id
           FROM reach GROUP BY node),
         members AS (SELECT ch.c_custkey, ch.cents,
             coalesce(l.cluster_id, ch.c_custkey) AS cluster_id
           FROM c ch LEFT JOIN lbl l ON l.node = ch.c_custkey),
         golden AS (SELECT cluster_id, count(*) AS n_members,
             sum(cents) AS tc, max(cents) AS mc
           FROM members GROUP BY 1)
         SELECT g.cluster_id, CAST(n_members AS BIGINT) AS n_members,
           r.c_name AS rep_name, r.c_mktsegment AS rep_segment,
           CAST(tc AS DOUBLE) / 100.0 AS total_bal,
           CAST(mc AS DOUBLE) / 100.0 AS max_bal
         FROM golden g JOIN c r ON r.c_custkey = g.cluster_id""",
    "q176_trigram_patterns" ->
      """WITH s AS (SELECT event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
         SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
           CAST(count(*) AS BIGINT) AS cnt
         FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL
         GROUP BY 1 ORDER BY cnt DESC, trigram LIMIT 20""",
    "q177_weighted_median" ->
      """WITH li AS (SELECT l_returnflag, l_extendedprice, l_orderkey,
             l_linenumber, CAST(round(l_quantity) AS BIGINT) AS qw
           FROM lineitem),
         tot AS (SELECT l_returnflag, sum(qw) AS totw FROM li GROUP BY 1),
         cum AS (SELECT l_returnflag, l_extendedprice,
             sum(qw) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
           FROM li)
         SELECT c.l_returnflag, min(l_extendedprice) AS w_median,
           CAST(max(totw) AS BIGINT) AS total_w
         FROM cum c JOIN tot ON c.l_returnflag = tot.l_returnflag
         WHERE cumw * 2 >= totw GROUP BY 1""",
    "q178_skew_report" ->
      """WITH sizes_p AS (SELECT l_partkey AS k, count(*) AS sz
           FROM lineitem GROUP BY 1),
         sizes_s AS (SELECT l_suppkey AS k, count(*) AS sz
           FROM lineitem GROUP BY 1),
         rep_p AS (
           SELECT 'l_partkey' AS dim, CAST(st.n AS BIGINT) AS n_keys,
             CAST(st.stot AS BIGINT) AS total_rows,
             CAST(st.smax AS DOUBLE) / st.stot AS top_share,
             st.p99 / st.p50 AS p99_p50,
             (2.0 * t.trs - (st.n + 1) * st.stot) / (st.n * st.stot) AS gini
           FROM (SELECT count(*) AS n, sum(sz) AS stot, max(sz) AS smax,
               quantile_cont(CAST(sz AS DOUBLE), 0.5) AS p50,
               quantile_cont(CAST(sz AS DOUBLE), 0.99) AS p99 FROM sizes_p) st,
             (SELECT sum(rnk * sz) AS trs FROM
               (SELECT sz, row_number() OVER (ORDER BY sz, k) AS rnk
                FROM sizes_p)) t),
         rep_s AS (
           SELECT 'l_suppkey' AS dim, CAST(st.n AS BIGINT) AS n_keys,
             CAST(st.stot AS BIGINT) AS total_rows,
             CAST(st.smax AS DOUBLE) / st.stot AS top_share,
             st.p99 / st.p50 AS p99_p50,
             (2.0 * t.trs - (st.n + 1) * st.stot) / (st.n * st.stot) AS gini
           FROM (SELECT count(*) AS n, sum(sz) AS stot, max(sz) AS smax,
               quantile_cont(CAST(sz AS DOUBLE), 0.5) AS p50,
               quantile_cont(CAST(sz AS DOUBLE), 0.99) AS p99 FROM sizes_s) st,
             (SELECT sum(rnk * sz) AS trs FROM
               (SELECT sz, row_number() OVER (ORDER BY sz, k) AS rnk
                FROM sizes_s)) t)
         SELECT * FROM rep_p UNION ALL SELECT * FROM rep_s""",
    "q179_seasonal_decompose" ->
      """WITH daily AS (SELECT
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         t AS (SELECT day, cents,
             count(*) OVER w7 AS n7, sum(cents) OVER w7 AS s7
           FROM daily
           WINDOW w7 AS (ORDER BY day
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         f AS (SELECT day, cents, s7, 7 * cents - s7 AS num,
             (day + 4) % 7 AS dow
           FROM t WHERE n7 = 7),
         g AS (SELECT *, CAST(num AS DOUBLE) / 700.0 AS detr,
             CAST(sum(num) OVER (PARTITION BY dow) AS DOUBLE)
               / (700.0 * count(*) OVER (PARTITION BY dow)) AS seasonal
           FROM f)
         SELECT CAST(day AS BIGINT) AS day,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           CAST(s7 AS DOUBLE) / 700.0 AS trend,
           seasonal, detr - seasonal AS residual
         FROM g""",
    "q180_join_cardinality" ->
      """WITH p AS (SELECT l_partkey AS k, count(*) AS c
           FROM lineitem GROUP BY 1),
         s AS (SELECT l_suppkey AS k, count(*) AS c
           FROM lineitem GROUP BY 1),
         o AS (SELECT l_orderkey AS k, count(*) AS c
           FROM lineitem GROUP BY 1)
         SELECT 'l_partkey' AS dim,
           CAST(CAST(sum(c * c) AS VARCHAR) AS DOUBLE) AS self_join_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_fanout FROM p
         UNION ALL SELECT 'l_suppkey',
           CAST(CAST(sum(c * c) AS VARCHAR) AS DOUBLE),
           CAST(count(*) AS BIGINT), CAST(max(c) AS BIGINT) FROM s
         UNION ALL SELECT 'l_orderkey',
           CAST(CAST(sum(c * c) AS VARCHAR) AS DOUBLE),
           CAST(count(*) AS BIGINT), CAST(max(c) AS BIGINT) FROM o""",
    "q181_cohort_ltv" ->
      """WITH ev AS (SELECT user_id, event_type, value,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
           FROM events),
         cohort AS (SELECT user_id, min(day) // 7 AS cohort_week,
             min(day) AS c_day FROM ev GROUP BY 1),
         sizes AS (SELECT cohort_week, count(*) AS cohort_users
           FROM cohort GROUP BY 1),
         rev AS (SELECT c.cohort_week, (e.day - c.c_day) // 7 AS age_week,
             sum(CAST(round(e.value * 100) AS BIGINT)) AS cents
           FROM ev e JOIN cohort c USING (user_id)
           WHERE e.event_type = 'purchase' GROUP BY 1, 2),
         cum AS (SELECT cohort_week, age_week, cents,
             sum(cents) OVER (PARTITION BY cohort_week ORDER BY age_week
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
           FROM rev)
         SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(age_week AS BIGINT) AS age_week,
           CAST(cohort_users AS BIGINT) AS cohort_users,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           CAST(cum_cents AS DOUBLE) / 100.0 AS cum_revenue
         FROM cum JOIN sizes USING (cohort_week)""",
    "q182_forecast_backtest" ->
      """WITH daily AS (SELECT
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         f AS (SELECT a.day, a.cents, b.cents AS fc
           FROM daily a JOIN daily b ON b.day = a.day - 7),
         g AS (SELECT count(*) AS n_days, sum(abs(cents - fc)) AS sae,
             sum(cents - fc) AS se, sum(cents) AS sa FROM f)
         SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(CAST(sae AS VARCHAR) AS DOUBLE) / 100.0 / n_days AS mae,
           CAST(CAST(sae AS VARCHAR) AS DOUBLE)
             / CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS wape,
           CAST(CAST(se AS VARCHAR) AS DOUBLE)
             / CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS bias
         FROM g""",
    "q183_referential_integrity" ->
      """SELECT 'lineitem->orders' AS fk_edge,
           CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
             AS BIGINT) AS n_orphans,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child
         UNION ALL SELECT 'lineitem->part',
           CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
             AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
         UNION ALL SELECT 'lineitem->supplier',
           CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
             AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
         UNION ALL SELECT 'orders->customer',
           CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
         UNION ALL SELECT 'customer->nation',
           CAST((SELECT count(*) FROM customer c WHERE NOT EXISTS
             (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
             AS BIGINT),
           CAST((SELECT count(*) FROM customer) AS BIGINT)""",
    "q184_debounce" ->
      """WITH g AS (SELECT user_id, event_type, event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS gap
           FROM events)
         SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(min(event_id) AS BIGINT) AS first_id
         FROM g WHERE gap IS NULL OR gap > 21600000000
         GROUP BY 1, 2""",
    "q185_benford" ->
      """WITH probs(digit, p) AS (VALUES
           -- e0 notation: DuckDB parses exponent literals straight to
           -- DOUBLE via strtod (correctly rounded); a bare decimal
           -- literal lands in DECIMAL(18,17) and its cast to double
           -- rounds DIFFERENTLY in the last ulp
           (1, 0.30102999566398119e0), (2, 0.17609125905568124e0),
           (3, 0.12493873660829993e0), (4, 0.09691001300805642e0),
           (5, 0.07918124604762482e0), (6, 0.06694678963061322e0),
           (7, 0.05799194697768673e0), (8, 0.05115252244738129e0),
           (9, 0.04575749056067514e0)),
         obs AS (SELECT CAST(substring(
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
             1, 1) AS INT) AS digit, count(*) AS n_obs
           FROM orders GROUP BY 1),
         tot AS (SELECT sum(n_obs) AS n FROM obs)
         SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
           CAST(n AS DOUBLE) * p AS expected,
           (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p) *
           (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p) /
           (CAST(n AS DOUBLE) * p) AS contrib
         FROM obs JOIN probs USING (digit), tot""",
    "q186_pruning_stats" ->
      """WITH li AS (SELECT l_orderkey,
             datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               AS day
           FROM lineitem),
         b AS (SELECT min(day) AS dlo, max(day) AS dhi,
             min(l_orderkey) AS olo, max(l_orderkey) AS ohi FROM li),
         natz AS (SELECT (l_orderkey - olo) * 64 // (ohi - olo + 1) AS f,
             min(day) AS mn, max(day) AS mx, min(dlo) AS dlo
           FROM li, b GROUP BY 1),
         natr AS (SELECT 'ingest_order' AS layout, count(*) AS n_files,
             sum(CASE WHEN mx < dlo + 49 OR mn > dlo + 55 THEN 1 ELSE 0 END)
               AS n_skippable FROM natz),
         cluz AS (SELECT (day - dlo) * 64 // (dhi - dlo + 1) AS f,
             min(day) AS mn, max(day) AS mx, min(dlo) AS dlo
           FROM li, b GROUP BY 1),
         clur AS (SELECT 'date_clustered' AS layout, count(*) AS n_files,
             sum(CASE WHEN mx < dlo + 49 OR mn > dlo + 55 THEN 1 ELSE 0 END)
               AS n_skippable FROM cluz),
         u AS (SELECT * FROM natr UNION ALL SELECT * FROM clur)
         SELECT layout, CAST(n_files AS BIGINT) AS n_files,
           CAST(n_skippable AS BIGINT) AS n_skippable,
           CAST(n_skippable AS DOUBLE) / n_files AS skip_frac
         FROM u""",
    "q187_funnel_latency" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
           FROM events),
         s1 AS (SELECT user_id, min(us) AS t1 FROM ev
           WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.us) AS t2 FROM ev e
           JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.us > s1.t1
             AND e.us - s1.t1 <= 43200000000 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.us) AS t3 FROM ev e
           JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.us > s2.t2
             AND e.us - s2.t2 <= 43200000000 GROUP BY 1),
         lat AS (SELECT t3 - t1 AS total_us, t2 - t1 AS step1_us,
             t3 - t2 AS step2_us
           FROM s3 JOIN s2 USING (user_id) JOIN s1 USING (user_id))
         SELECT CAST(count(*) AS BIGINT) AS n_converted,
           quantile_cont(total_us, 0.5) AS p50_total_us,
           quantile_cont(total_us, 0.9) AS p90_total_us,
           quantile_cont(step1_us, 0.5) AS p50_step1_us,
           quantile_cont(step2_us, 0.5) AS p50_step2_us
         FROM lat""",
    "q188_new_vs_returning" ->
      """WITH o AS (SELECT o_custkey,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         fd AS (SELECT o_custkey, min(day) AS first_day FROM o GROUP BY 1)
         SELECT CAST(o.day // 30 AS BIGINT) AS month_bucket,
           CASE WHEN o.day = fd.first_day THEN 'new' ELSE 'returning' END
             AS cust_class,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(o.cents) AS VARCHAR) AS DOUBLE) / 100.0 AS revenue
         FROM o JOIN fd USING (o_custkey)
         GROUP BY 1, 2""",
    "q189_grouped_split" ->
      """WITH ev AS (SELECT user_id, event_id,
             CASE WHEN CAST(concat('0x', substr(md5(concat('21', '|',
                 CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90
               THEN 'train'
             WHEN CAST(concat('0x', substr(md5(concat('21', '|',
                 CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 95
               THEN 'val'
             ELSE 'test' END AS split
           FROM events),
         leaky AS (SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS leaky_users
           FROM (SELECT user_id, count(DISTINCT split) AS ns
                 FROM ev GROUP BY 1))
         SELECT split, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, leaky_users
         FROM ev, leaky GROUP BY 1, leaky_users""",
    "q190_srm_check" ->
      """WITH designed(split, p) AS (VALUES
           ('train', 0.90e0), ('val', 0.05e0), ('test', 0.05e0)),
         u AS (SELECT DISTINCT user_id FROM events),
         ev AS (SELECT user_id,
             CASE WHEN CAST(concat('0x', substr(md5(concat('21', '|',
                 CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90
               THEN 'train'
             WHEN CAST(concat('0x', substr(md5(concat('21', '|',
                 CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 95
               THEN 'val'
             ELSE 'test' END AS split
           FROM u),
         obs AS (SELECT split, count(*) AS n_obs FROM ev GROUP BY 1),
         tot AS (SELECT sum(n_obs) AS n FROM obs)
         SELECT split, CAST(n_obs AS BIGINT) AS n_obs,
           CAST(n AS DOUBLE) * p AS expected,
           (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p) *
           (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p) /
           (CAST(n AS DOUBLE) * p) AS contrib
         FROM obs JOIN designed USING (split), tot""",
    "q191_bottomk_quantile" ->
      """WITH pr AS (SELECT event_type, event_id, value,
             CAST(concat('0x', substr(md5(concat('7', '|',
               CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) AS prio
           FROM events),
         sam AS (SELECT event_type, value FROM
           (SELECT event_type, value,
              row_number() OVER (PARTITION BY event_type
                ORDER BY prio, event_id) AS rn
            FROM pr) WHERE rn <= 256),
         est AS (SELECT event_type, count(*) AS n_sample,
             quantile_cont(value, 0.5) AS est_p50 FROM sam GROUP BY 1),
         ex AS (SELECT event_type, quantile_cont(value, 0.5) AS exact_p50,
             quantile_cont(value, 0.35) AS lo,
             quantile_cont(value, 0.65) AS hi
           FROM events GROUP BY 1)
         SELECT e.event_type, CAST(n_sample AS BIGINT) AS n_sample,
           est_p50, exact_p50,
           CAST(est_p50 >= lo AND est_p50 <= hi AS INT) AS within_bound
         FROM est e JOIN ex USING (event_type)""",
    "q192_rolling_median" ->
      """WITH daily AS (SELECT o_orderpriority,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1, 2)
         SELECT o_orderpriority, CAST(day AS BIGINT) AS day,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           quantile_cont(CAST(cents AS DOUBLE), 0.5) OVER (
             PARTITION BY o_orderpriority ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0 AS med7
         FROM daily""",
    "q193_sorted_neighborhood" ->
      """WITH c AS (SELECT c_custkey, c_name,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             row_number() OVER (ORDER BY c_name) AS rn
           FROM customer),
         p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             levenshtein(a.c_name, b.c_name) AS lev,
             (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 2 ELSE 0 END
              + CASE WHEN abs(a.cents - b.cents) < 50000 THEN 1 ELSE 0 END)
               AS score
           FROM c a JOIN c b ON b.rn - a.rn BETWEEN 1 AND 9)
         SELECT id_a, id_b, CAST(lev AS INT) AS lev, CAST(score AS INT)
           AS score FROM p WHERE score >= 2""",
    "q225_winsorized_stats" ->
      """WITH o AS (SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         b AS (SELECT o_orderpriority,
             quantile_cont(CAST(cents AS DOUBLE), CAST(0.05 AS DOUBLE)) AS lo,
             quantile_cont(CAST(cents AS DOUBLE), CAST(0.95 AS DOUBLE)) AS hi
           FROM o GROUP BY 1),
         c AS (SELECT o.o_orderpriority, lo, hi,
             CAST(floor(least(greatest(CAST(cents AS DOUBLE), lo), hi) * 1e6)
               AS BIGINT) AS cg
           FROM o JOIN b USING (o_orderpriority))
         SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           any_value(lo) / 100.0 AS lo_price,
           any_value(hi) / 100.0 AS hi_price,
           CAST(sum(cg) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6 / 100.0
             AS wins_mean
         FROM c GROUP BY 1"""
  )
}
