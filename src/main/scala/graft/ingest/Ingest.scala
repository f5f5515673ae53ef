package graft.ingest

import graft.schema.{Sanitize, SchemaInference, Widen}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest / normalization operators
  * (reference: `src/load_datawarehouse/data.py`).
  *
  * Everything here is expressed as declarative plan transformations so
  * Catalyst keeps pushdown/pruning working underneath — none of these
  * operators materializes data on the driver.
  */
object Ingest {

  /** `prepare` (data.py:123-144): normalize input for loading — clean all
    * keys recursively. DataFrame → DataFrame (plan-only rename).
    */
  def prepare(df: DataFrame): DataFrame = Sanitize.cleanColumns(df)

  /** `prepare` for raw JSON-line records: infer the warehouse schema with
    * our lattice (NOT Spark's JSON inference — the widening rules differ,
    * SURVEY §7.4), canonicalize each line to match the schema's
    * record⇒REPEATED convention, then parse with the inferred schema.
    */
  def prepareJson(spark: SparkSession, lines: Dataset[String]): DataFrame = {
    val (_, schema) = SchemaInference.inferJson(spark, lines)
    val cleaned = lines.map(l => Ingest.canonicalizeJsonLine(l))(
      org.apache.spark.sql.Encoders.STRING)
    spark.read.schema(schema).json(cleaned)
  }

  /** Canonicalize a raw JSON object line for loading: keys cleaned (`\W`
    * → `_`), and every nested record value wrapped into a one-element
    * array — the data-side counterpart of the schema rule "nested record
    * ⇒ RECORD REPEATED, even when observed as a single dict" (SURVEY
    * §1.4; reference `bigquery/schema.py:486-497`). Jackson pass per
    * line, executor-side.
    */
  def canonicalizeJsonLine(line: String): String = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    import com.fasterxml.jackson.databind.JsonNode
    import scala.jdk.CollectionConverters._
    val mapper = new ObjectMapper()
    // wrap: an object in a *field value* position becomes [object]; array
    // elements are already repeated and stay unwrapped.
    def clean(node: JsonNode, wrapObjects: Boolean): JsonNode = node match {
      case o: ObjectNode =>
        val out = mapper.createObjectNode()
        o.properties().asScala.foreach { e =>
          out.set[JsonNode](Sanitize.cleanFieldKey(e.getKey),
            clean(e.getValue, wrapObjects = true))
        }
        if (wrapObjects) { val arr = mapper.createArrayNode(); arr.add(out); arr }
        else out
      case a: ArrayNode =>
        val out = mapper.createArrayNode()
        a.elements().asScala.foreach(e => out.add(clean(e, wrapObjects = false)))
        out
      case other => other
    }
    try mapper.writeValueAsString(clean(mapper.readTree(line), wrapObjects = false))
    catch { case _: Exception => line }
  }

  /** Per-row JSON byte size column — the building block of `json_size`
    * (data.py:146-177) and chunking. Computed distributed and codegen'd:
    * `octet_length(to_json(struct(*)))`.
    */
  def rowJsonSize(df: DataFrame): Column =
    octet_length(to_json(struct(df.columns.map(col).toSeq: _*)))

  /** `json_size` (data.py:146-177): total JSON serialization size of the
    * record set, one distributed aggregate (the reference bisects with
    * repeated serialization; on Spark the exact sum is a single pass).
    */
  def jsonSize(df: DataFrame): Long =
    df.select(sum(rowJsonSize(df)).cast("long")).collect()(0) match {
      case row if row.isNullAt(0) => 0L
      case row => row.getLong(0)
    }

  /** `sample` (data.py:179-204): seeded uniform random sample of EXACTLY
    * `min(n, count)` records — the reference's `random.sample` contract.
    * Implemented as top-n under a seeded random key: per-partition heaps
    * merge into one (`TakeOrderedAndProject`) — no `count()` pre-pass, no
    * global sort, one scan. Designed for n ≪ total (a sample); the result
    * is deterministic for a fixed seed and input partitioning.
    */
  def sample(df: DataFrame, n: Int, seed: Long = 42L): DataFrame =
    df.orderBy(rand(seed).asc).limit(n)

  /** Global 0-based position column under an explicit total order — the
    * general operator behind `subset` (and the distributed equivalent of
    * `row_number() OVER (ORDER BY …)` without the single-partition
    * window): range partitioning + exact per-partition offsets
    * (`Positional`), one shared shuffle for the stats and data passes.
    */
  def withPosition(df: DataFrame, orderBy: Seq[Column],
                   as: String = "_pos"): DataFrame = {
    val spark = df.sparkSession
    val r = Positional.ranged(df, orderBy, _ => 1L)
    val offsets = r.offsets
    val rdd = r.rdd.mapPartitionsWithIndex { (pid, it) =>
      var pos = offsets(pid)
      it.map { row =>
        val p = pos
        pos += 1L
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ p)
      }
    }
    spark.createDataFrame(rdd, r.schema.add(as, "long", nullable = false))
  }

  /** `subset` (data.py:206-225): positional slice `[start, start+size)`
    * (0-based) under an explicit total order. (Input order is not a
    * distributed concept; the caller names the order, SURVEY §4
    * order-preservation note.)
    *
    * NOT a global window: `row_number() OVER (ORDER BY …)` would move
    * every row to one partition. Instead range-partition on the order,
    * collect per-partition row counts (statistics only), and slice each
    * partition against its exact global offset — partitions fully outside
    * the slice return without consuming their shuffle input
    * (`Positional`).
    */
  def subset(df: DataFrame, orderBy: Seq[Column], start: Long, size: Long): DataFrame = {
    val spark = df.sparkSession
    val r = Positional.ranged(df, orderBy, _ => 1L)
    val offsets = r.offsets
    val totals = r.totals
    val lo = start
    val hi = start + size
    val sliced = r.rdd.mapPartitionsWithIndex { (pid, it) =>
      val off = offsets(pid)
      val cnt = totals(pid)
      if (off >= hi || off + cnt <= lo) Iterator.empty
      else {
        val dropN = math.max(0L, lo - off)
        val takeN = math.min(off + cnt, hi) - math.max(off, lo)
        it.slice(dropN.toInt, (dropN + takeN).toInt)
      }
    }
    spark.createDataFrame(sliced, r.schema)
  }
}
