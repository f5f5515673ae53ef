package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Access to the driver-generated testdata tables (TESTDATA.md).
  *
  * All readers go through here so that scan-level concerns (nanosecond
  * timestamps, column pruning, session defaults) live in one place.
  */
object Tables {
  val All: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Plain parquet scan. Catalyst prunes columns / pushes filters from here. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize a physical `ts` column to session-zoned microsecond
    * TimestampType, whatever the parquet writer chose to store:
    *
    *  - `TIMESTAMP(NANOS)` + `spark.sql.legacy.parquet.nanosAsLong=true`
    *    arrives as a Long of epoch nanos → truncate to micros;
    *  - `TIMESTAMP(MICROS, isAdjustedToUTC=false)` arrives as
    *    TimestampNTZType → cast (sessions pin UTC, so this is a relabel);
    *  - `TIMESTAMP(MICROS, isAdjustedToUTC=true)` arrives as TimestampType
    *    → already what we want.
    *
    * Anything else is a data-contract break and fails loudly with the
    * observed type, instead of an opaque mid-plan DATATYPE_MISMATCH.
    */
  def normalizeTs(df: DataFrame, col: String = "ts"): DataFrame =
    df.schema(col).dataType match {
      // integral `div`, not `/`: epoch nanos exceed double's 53-bit mantissa
      case LongType         => df.withColumn(col, timestamp_micros(expr(s"`$col` div 1000")))
      case TimestampNTZType =>
        // the NTZ→TZ cast is a pure relabel ONLY under a UTC session; any
        // other zone would silently shift every timestamp, so fail loudly
        // like the other contract checks
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
          s"normalizeTs: TimestampNTZ relabel to TimestampType requires a UTC " +
            s"session timezone, but spark.sql.session.timeZone=$tz")
        df.withColumn(col, df(col).cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"column `$col` has unsupported physical type $other; expected epoch-nanos " +
          "LongType, TimestampNTZType, or TimestampType (testdata contract drift?)")
    }

  /** `events` historically carried a nanosecond-precision parquet timestamp
    * (read as epoch-nanos Long via `nanosAsLong`); newer generations store a
    * proper `TIMESTAMP(MICROS)`. The view adapts to whichever the file
    * actually contains and always exposes `ts` as microsecond TimestampType.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(apply(spark, dir, "events"))

  /** Expected columns per testdata table — the data CONTRACT this library
    * decodes. Types are deliberately not pinned exactly (timestamp
    * encodings may drift between driver generations; [[normalizeTs]]
    * adapts), but a missing/renamed column or an undecodable `ts` must
    * fail fast with one clear message, not an opaque mid-plan error N
    * queries deep (round-6 post-mortem: a silent `events.ts` encoding
    * change broke 18 gates with zero diagnostic).
    */
  private val expectedColumns: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  /** Session-start probe: every table present with its contract columns,
    * and `events.ts` in a decodable encoding. Throws one aggregated,
    * human-readable message on any drift.
    */
  def assertContract(spark: SparkSession, dir: String): Unit = {
    val problems = All.flatMap { name =>
      try {
        val schema = apply(spark, dir, name).schema
        val have = schema.fieldNames.toSet
        val missing = expectedColumns(name).filterNot(have.contains)
        val colIssue =
          if (missing.isEmpty) None
          else Some(s"$name: missing columns ${missing.mkString(", ")} " +
            s"(have: ${schema.fieldNames.mkString(", ")})")
        val tsIssue =
          if (name == "events" && missing.isEmpty)
            try { normalizeTs(apply(spark, dir, name)); None }
            catch { case e: IllegalStateException => Some(s"$name: ${e.getMessage}") }
          else None
        colIssue.toSeq ++ tsIssue.toSeq
      } catch {
        case e: Exception => Seq(s"$name: unreadable ($dir/$name.parquet): ${e.getMessage}")
      }
    }
    if (problems.nonEmpty) throw new IllegalStateException(
      "testdata contract drift detected:\n  " + problems.mkString("\n  "))
  }

  /** Session defaults shared by Verify / perfbench / tests: tuned for local[N]
    * but written the way a 1000-executor cluster session would be (AQE on,
    * explicit shuffle parallelism, UTC).
    */
  def sessionBuilder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      .config("spark.ui.enabled", "false")
}
