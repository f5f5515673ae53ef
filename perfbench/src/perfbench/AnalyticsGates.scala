package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** `analytics_gates`: one pass over a fixed list of `SparkEntry.queries`
  * gates on sf0.1. Each op builds the gate and consumes its whole output
  * through an order-independent fingerprint, compared after the pass
  * with the golden file kept beside the benchmark.
  */
final class AnalyticsGates(spark: SparkSession, sfDir: String, golden: String, update: Boolean)
    extends Workload {
  private val fingerprints = mutable.LinkedHashMap.empty[String, Fingerprint]

  def setup(): Unit = {
    graft.Tables.assertContract(spark, sfDir)
    spark.range(1000).selectExpr("sum(id)").collect()
  }

  def loop(run: Run): Unit =
    AnalyticsGates.Gates.foreach { case (module, gate) =>
      run.op("gate") {
        run.tracer.span(s"$module.$gate") {
          fingerprints(gate) = Fingerprint.of(SparkEntry.queries(gate)(spark, sfDir))
        }
        true
      }
    }

  def check(): Seq[String] = {
    val path = Paths.get(golden)
    if (update) {
      val lines = fingerprints.map { case (g, f) => s"  ${Json(g)}: ${Json(f.toMap)}" }
      Files.write(path, lines.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
      Nil
    } else if (!Files.exists(path)) Seq(s"golden file $golden missing")
    else {
      val want = Fingerprint.parse(new String(Files.readAllBytes(path), UTF_8))
      AnalyticsGates.Gates.flatMap { case (_, g) =>
        (fingerprints.get(g), want.get(g)) match {
          case (Some(a), Some(b)) if a.matches(b) => Nil
          case (a, b) => Seq(s"$g: fingerprint $a, golden $b")
        }
      }
    }
  }

  def inputFingerprint: String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.update(AnalyticsGates.Gates.map(_._2).mkString(",").getBytes(UTF_8))
    graft.Tables.All.foreach(t => Workload.digestFile(d, s"$sfDir/$t.parquet"))
    Workload.hex(d)
  }

  def metrics(run: Run): Map[String, Double] =
    Map("gates_total_s" -> run.of("gate").sum)

  def layers(run: Run): Map[String, Double] =
    AnalyticsGates.Gates.flatMap { case (module, gate) =>
      val name = s"$module.$gate"
      Seq(s"${name}_s" -> run.tracer.meanSeconds(name),
        s"${name}_shuffle_bytes" -> run.tracer.work(name).shuffleWriteBytes.toDouble)
    }.toMap
}

object AnalyticsGates {
  /** (layer, gate). `a*` gates exercise the `ops` operators. */
  val Gates: Seq[(String, String)] = Seq(
    "queries" -> "q01_pricing_summary",
    "queries" -> "q05_region_revenue",
    "queries" -> "q24_window_ranks",
    "ops" -> "a09_range_join",
    "ops" -> "a14_bloom_join",
    "ext" -> "x45_bm25",
    "ext" -> "x56_ann_ivfpq",
    "streaming" -> "s04_stream_join")
}

/** Row count, a sum of `xxhash64` over the exact columns, and a sum per
  * floating-point column (compared with a relative tolerance, because
  * the order of a distributed float sum is not fixed). Columns nesting
  * floats inside arrays or structs contribute their JSON length.
  */
final case class Fingerprint(rows: Long, hash: String, sums: Map[String, Double]) {
  def matches(o: Fingerprint): Boolean =
    rows == o.rows && hash == o.hash && sums.keySet == o.sums.keySet &&
      sums.forall { case (k, v) => math.abs(v - o.sums(k)) <= 1e-6 * math.max(1.0, math.abs(o.sums(k))) }

  def toMap: Map[String, Any] = Map("rows" -> rows, "hash" -> hash, "sums" -> sums)
}

object Fingerprint {
  private def floating(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case a: ArrayType => floating(a.elementType)
    case m: MapType => floating(m.keyType) || floating(m.valueType)
    case s: StructType => s.fields.exists(f => floating(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Fingerprint = {
    val fields = df.schema.fields.toSeq
    val exact = fields.filterNot(f => floating(f.dataType)).map(f => col(s"`${f.name}`"))
    val floats = fields.filter(f => floating(f.dataType))
    val hashed: Column =
      if (exact.isEmpty) lit(0L).cast("decimal(38,0)")
      else xxhash64(exact: _*).cast("decimal(38,0)")
    val sums = floats.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => sum(c.cast("double"))
        case _ => sum(length(to_json(struct(c))).cast("double"))
      }
    }
    val row = df.agg(count(lit(1)), (sum(hashed) +: sums): _*).head()
    Fingerprint(row.getLong(0), String.valueOf(row.get(1)),
      floats.zipWithIndex.map { case (f, i) => f.name -> Option(row.get(i + 2)).map(_.asInstanceOf[Double]).getOrElse(0.0) }.toMap)
  }

  def parse(json: String): Map[String, Fingerprint] = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    val root = new ObjectMapper().readTree(json)
    root.properties().asScala.map { e =>
      val n = e.getValue
      e.getKey -> Fingerprint(n.get("rows").asLong(), n.get("hash").asText(),
        n.get("sums").properties().asScala.map(s => s.getKey -> s.getValue.asDouble()).toMap)
    }.toMap
  }
}
