package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table readers + shared numeric helpers for the declared query suite.
  *
  * Every query here is verified by hash-match against DuckDB running the
  * same SQL on the same parquet (driver contract). Floating-point sums are
  * the classic hash-mismatch trap: a double SUM is summation-order-dependent
  * and the two engines aggregate in different orders. So every aggregated
  * double goes through exact decimal arithmetic — cast to decimal, sum
  * exactly (order-independent), cast back to double — making the result
  * bit-identical across engines regardless of partitioning/parallelism.
  * That also makes results stable across cluster sizes, which plain double
  * sums are not: the same query on 1 vs 1000 executors returns the same
  * bits.
  */
object Tables {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, dir: String): DataFrame = t(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = t(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = t(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = t(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = t(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame = t(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = t(s, dir, "region")
  /** Schema-adaptive events reader: take `ts` however the parquet file
    * declares it, like the reference's pass-through scan
    * (`/root/reference/main.py:420`, `pd.read_parquet` — native types as
    * stored). The driver has shipped this column as both physical
    * encodings, so both are first-class:
    *
    *   - TIMESTAMP(MICROS) — pyarrow's default. isAdjustedToUTC=false reads
    *     as TIMESTAMP_NTZ; cast to TIMESTAMP (session TZ pinned UTC, so the
    *     micros value is unchanged) so `unix_micros`/`date_trunc`/window
    *     arithmetic and the DuckDB oracles' `CAST(ts AS TIMESTAMP)` stay
    *     hash-identical.
    *   - TIMESTAMP(NANOS) — Spark's schema converter rejects it outright;
    *     read it as a raw nanosecond long (legacy conf) and convert with
    *     integer division (a double division would lose precision at
    *     ~1.7e18 ns). DuckDB reads the same column as TIMESTAMP_NS and
    *     truncates to µs on CAST — identical floor semantics.
    *
    * The branch is picked by sniffing one parquet footer directly (no
    * Spark conf involved), and the nanos-only `nanosAsLong` conf is set on
    * a cloned session — same SparkContext, isolated SQLConf — so the
    * caller's session is never mutated and concurrent readers can't race
    * it. The conf is consulted lazily at scan-build time, which is why a
    * set-and-restore on the shared session would be unsafe. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    if (eventsTsIsNanos(s, path)) {
      val ns = s.newSession()
      ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      ns.read.parquet(path)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    } else {
      val df = s.read.parquet(path)
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    }
  }

  /** True iff the stored `ts` column is parquet TIMESTAMP(NANOS). Reads one
    * footer via parquet-hadoop; handles both a bare parquet file (the
    * driver's layout) and a Spark-written directory. */
  private def eventsTsIsNanos(s: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val hconf = s.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .filter(q => q.getName.endsWith(".parquet") && !q.getName.startsWith("_"))
          .headOption
          .getOrElse(sys.error(s"no parquet part files under $path"))
      else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hconf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      if (!schema.containsField("ts")) false
      else schema.getFields.get(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }
    } finally reader.close()
  }
  def documents(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  /** Exact decimal type for sums of data-scale doubles: 18 integer digits,
    * 10 fractional. Conversion double→decimal rounds HALF_UP identically in
    * Spark and DuckDB (ties are unreachable for arbitrary binary doubles). */
  val SumDec: DecimalType = DecimalType(28, 10)

  /** Order-independent, engine-exact sum of a double column.
    *
    * The final ROUND(..., 2) before the double cast matters: casting a
    * scale-10 decimal straight to double goes through the scaled int128 in
    * DuckDB, which exceeds 2^53 for big sums and rounds differently than
    * Spark's BigDecimal.doubleValue. After rounding to scale 2 the scaled
    * integer is small enough that both engines' conversions are exact →
    * bit-identical doubles.
    * DuckDB oracle: `CAST(ROUND(SUM(CAST(x AS DECIMAL(28,10))), 2) AS DOUBLE)`. */
  def dsum(c: Column): Column =
    round(sum(c.cast(SumDec)), 2).cast("double")

  /** SQL text of [[dsum]] for oracle strings. */
  def dsumSql(x: String): String =
    s"CAST(ROUND(SUM(CAST($x AS DECIMAL(28,10))), 2) AS DOUBLE)"

  /** Exact decimal product for revenue-style `price * (1 - discount)` terms.
    * Each factor is rounded to 6 decimals first (same in both engines), the
    * product is then exact, so the decimal SUM is exact too. */
  val MulDec: DecimalType = DecimalType(18, 6)
  def revenueTerm(price: Column, discount: Column): Column =
    price.cast(MulDec) * (lit(1).cast(MulDec) - discount.cast(MulDec))
  def revenueTermSql(price: String, discount: String): String =
    s"CAST($price AS DECIMAL(18,6)) * (1 - CAST($discount AS DECIMAL(18,6)))"
}
