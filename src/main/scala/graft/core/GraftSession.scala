package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with scale-appropriate defaults.
  *
  * Mirrors the role of the reference's `StreamExecutionEnvironment`
  * (FlinkDotNet.Core.Api/StreamExecutionEnvironment.cs) as the single entry
  * point that owns execution configuration — but the actual runtime is
  * Spark: AQE handles runtime re-planning (skew joins, partition
  * coalescing), and shuffle partitioning is explicit instead of the
  * reference's per-vertex `Parallelism`.
  */
object GraftSession {

  /** Defaults chosen for the local[32] harness but expressed the way a
    * cluster deployment would: AQE on (runtime skew/coalesce), broadcast
    * threshold generous enough to broadcast TPC-H dims, shuffle
    * partitions sized to cores rather than Spark's default 200.
    */
  def builder(master: String = "local[32]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // 128 MiB scan splits (explicit): with ~1 GiB executor task memory a
      // compressed parquet split decompresses well inside the working set;
      // at 100 TB this yields ~800k input tasks — fine for a 1000-executor
      // cluster, and AQE coalesces the small tail.
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no type
      // for; read as long and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf (set before session creation): the default 100-entry
      // codegen class cache thrashes under a 128-query suite — several
      // hundred whole-stage units per pass force Janino recompilation of
      // every plan on every pass (measured: q61 3.44 s inside the full
      // sweep vs 1.76 s standalone). One suite's units stay resident.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // native SQL functions + graft optimizer rules (LevenshteinBand)
      // injected at build — every session, so the oracle gate and the
      // bench run what a deployment runs
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // local checkpoint, commit-log and state-store files: stock Hadoop
      // forks a chmod per created file and two readlinks per rename
      // without libhadoop (ForkFreeLocalFs); other schemes are untouched
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // native expressions on the SQL surface (word_shingles,
    // minhash_signature, cosine_similarity)
    graft.llm.GraftFunctions.register(s)
    s
  }
}

/** Exact decimal arithmetic for money columns in oracle-checked aggregates.
  *
  * Double `sum()` is summation-order-dependent: Spark's partial/final
  * aggregate tree and DuckDB's sequential scan add in different orders, so
  * the last few bits differ and a result landing on a rounding boundary of
  * the driver's 6-significant-digit compare flips (round-1 q47). Summing in
  * decimal is exact and order-independent on both engines.
  *
  * Casting SOURCE columns (2-dp money/rates) at scale 2 is engine-agreement
  * safe: divergence would need a value within ~1e-11 of a half-cent
  * boundary (Spark rounds the shortest decimal repr, DuckDB the binary
  * value) and the fixtures contain none (scanned at every SF). Never cast a
  * COMPUTED double to decimal — products have full-precision mantissas
  * where the two engines' rounding rules genuinely diverge.
  */
object Money {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** 2-dp source money column → exact decimal. Precision 14 keeps decimal
    * multiplication results under both engines' 38-digit cap with matching
    * result scales (str-compare equality requires identical scale).
    */
  def dec(c: Column): Column = c.cast("decimal(14,2)")

  /** 2-dp source rate column (discount/tax, < 10) → exact decimal. */
  def rate(c: Column): Column = c.cast("decimal(3,2)")

  /** (1 - rate) in decimal: (4,2) on both engines. */
  def oneMinus(c: Column): Column = lit(1).cast("decimal(3,2)") - rate(c)

  /** (1 + rate) in decimal: (4,2) on both engines. */
  def onePlus(c: Column): Column = lit(1).cast("decimal(3,2)") + rate(c)

  /** Decimal SUM aligned to DuckDB's result type. DuckDB widens
    * sum(DECIMAL(p,s)) to DECIMAL(38,s); Spark uses min(38, p+10) — e.g.
    * sum(decimal(14,2)) → decimal(24,2), products → (29,4)/(34,6). The
    * values are identical but the correctness driver hashes the declared
    * type too, so cast the aggregate OUTPUT (lossless widening) to (38,s).
    */
  def sum38(e: Column, scale: Int): Column = sum(e).cast(s"decimal(38,$scale)")

  /** sum of a 2-dp money source column at DuckDB's output type (38,2). */
  def sumDec(c: Column): Column = sum38(dec(c), 2)

  /** sum38 on the integer-units fast path: round(x·10^scale) recovers the
    * EXACT fixed-point value (sources are 2-dp; products of 2-dp decimals
    * have ≤ scale decimal places, which sit ≥ half-a-unit from any rounding
    * boundary while the double expression's error is ~1e-9 units — rounding
    * always lands on the exact value). Long sums vectorize inside
    * whole-stage codegen where decimal sums do not, and MakeDecimal
    * re-labels the unscaled total as decimal(38,scale) — value AND declared
    * type identical to sum38, order-independent like it. Capacity:
    * ±9.2e18 units per group before Long overflow (ANSI aborts loudly,
    * never silently wraps) — rescale to sumDec/sum38 past ~1e16 dollars.
    */
  def sum38Fast(e: Column, scale: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.MakeDecimal
    require(scale >= 0 && scale <= 6, "exactness argument holds to scale 6")
    val units = sum(round(e * lit(math.pow(10, scale))).cast("long"))
    ColumnBridge.toColumn(
      MakeDecimal(ColumnBridge.toExpression(units), 38, scale))
  }

  /** sumDec on the cents fast path (see sum38Fast). */
  def sumDecFast(c: Column): Column = sum38Fast(c, 2)

  /** Order-independent mean: exact decimal sum, divided in double so both
    * engines divide bit-identical operands.
    */
  def avgDec(c: Column): Column = sum(dec(c)).cast("double") / count(c)

  /** Same for rate-scaled columns. */
  def avgRate(c: Column): Column = sum(rate(c)).cast("double") / count(c)
}

/** Typed accessors for the fixture star schema. Filters/projections applied
  * on top of these reach the parquet scan (predicate pushdown + column
  * pruning are verified in `PlanSpec`).
  */
object Tables {
  def region(spark: SparkSession, dir: String): DataFrame    = spark.read.parquet(s"$dir/region.parquet")
  def nation(spark: SparkSession, dir: String): DataFrame    = spark.read.parquet(s"$dir/nation.parquet")
  def customer(spark: SparkSession, dir: String): DataFrame  = spark.read.parquet(s"$dir/customer.parquet")
  def supplier(spark: SparkSession, dir: String): DataFrame  = spark.read.parquet(s"$dir/supplier.parquet")
  def part(spark: SparkSession, dir: String): DataFrame      = spark.read.parquet(s"$dir/part.parquet")
  def orders(spark: SparkSession, dir: String): DataFrame =
    normTs(spark.read.parquet(s"$dir/orders.parquet"), "o_orderdate")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    normTs(spark.read.parquet(s"$dir/lineitem.parquet"), "l_shipdate")

  /** Fixture-type insurance: a date/timestamp column that arrives as a
    * raw nanos long (the nanosAsLong legacy read of TIMESTAMP(NANOS)
    * fixtures) normalizes to TIMESTAMP_NTZ so date expressions keep
    * resolving; µs/NTZ fixtures pass through untouched. The fixtures
    * have switched physical timestamp types between rounds — accessors,
    * not queries, absorb that.
    */
  private def normTs(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(c,
          timestamp_micros(expr(s"$c div 1000")).cast("timestamp_ntz"))
      case _ => df
    }
  }
  /** events.ts is parquet TIMESTAMP(NANOS); Spark reads it as a nanos long
    * (spark.sql.legacy.parquet.nanosAsLong). Normalize to µs TimestampType
    * here — the reference's event times are epoch-ms longs (TimeWindow.cs),
    * so µs precision is lossless for its semantics.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not `/`: double division loses precision on
        // 19-digit nano longs (off-by-1µs at the truncation boundary).
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as NTZ;
        // with the session timezone pinned to UTC this cast maps the wall
        // time to the identical instant, restoring the TimestampType the
        // event-time operators (unix_micros, window()) are built on.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

  /** Register every fixture table as a temp view for the SQL surface —
    * through the typed accessors, so the SQL views carry the same schemas
    * (notably events.ts normalized to TimestampType, not the raw nanos
    * BIGINT the legacy parquet flag exposes).
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    region(spark, dir).createOrReplaceTempView("region")
    nation(spark, dir).createOrReplaceTempView("nation")
    customer(spark, dir).createOrReplaceTempView("customer")
    supplier(spark, dir).createOrReplaceTempView("supplier")
    part(spark, dir).createOrReplaceTempView("part")
    orders(spark, dir).createOrReplaceTempView("orders")
    lineitem(spark, dir).createOrReplaceTempView("lineitem")
    events(spark, dir).createOrReplaceTempView("events")
    documents(spark, dir).createOrReplaceTempView("documents")
    embeddings(spark, dir).createOrReplaceTempView("embeddings")
  }
}
