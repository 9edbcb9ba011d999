package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [namePrefix...] — optional prefixes restrict
    // the dump to matching queries (builder fast-iteration; the driver
    // always calls with exactly two args = full dump).
    val Array(sfDir, outDir, prefixes @ _*) = args
    // the engine configuration the tests, Bench and the probes run —
    // the oracle gate verifies the plans a deployment runs
    val spark = graft.core.GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    // Output-boundary type alignment: the driver compares at the PANDAS
    // level — the DuckDB oracle arrives via fetchdf(), which converts every
    // DECIMAL column to float64, while a Spark decimal parquet column
    // to_pandas()-es as object Decimal. Identical digits, different pandas
    // dtype, failed hash (burned rounds 2-4: 16 value-exact queries red).
    // So: money math stays exact-decimal INSIDE queries (order-independent
    // across partitions), and the declared output re-joins the double
    // domain here — both engines then round the same exact decimal to the
    // same nearest double, bit-for-bit.
    def alignOutputTypes(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.DecimalType
      val casts = df.schema.fields.map { f =>
        f.dataType match {
          case _: DecimalType => col(f.name).cast("double").as(f.name)
          case _              => col(f.name)
        }
      }
      df.select(casts.toIndexedSeq: _*)
    }
    SparkEntry.select(prefixes).foreach { case (name, fn) =>
      try alignOutputTypes(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators persist LSH/signature intermediates and never unpersist;
      // without this, ~15 queries' caches accumulate across all 83 dumps
      // and a large-SF verify spills executor storage to /tmp until the
      // round's correctness gate crawls (Bench clears for the same reason)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
