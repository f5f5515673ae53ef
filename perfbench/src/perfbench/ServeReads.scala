package perfbench

import graft.warehouse.{QuerySort, SparkWarehouse}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}

import java.security.MessageDigest
import java.time.LocalDate
import scala.collection.mutable
import scala.util.Random

/** `serve_reads`: read-only ops on a lineitem table built from the sf0.1
  * source in 8 ordered `l_orderkey` appends, with stats and a bloom
  * sidecar on `l_orderkey`.
  */
final class ServeReads(spark: SparkSession, wh: SparkWarehouse, sfDir: String, seed: Long)
    extends Workload {
  private val Table = "lineitem"
  private val Appends = 8
  private val CheckEvery = 5
  private val rnd = new Random(seed)
  private val digest = MessageDigest.getInstance("SHA-256")
  // through the repo's reader normalization: `l_shipdate` is stored as
  // TIMESTAMP_NTZ, on which `analyzeStats` fails (INVALID_EXTRACT_FIELD)
  private def source: DataFrame =
    graft.Tables.normalizeTs(graft.Tables(spark, sfDir, "lineitem"), "l_shipdate")

  private var keys: Array[Long] = Array.empty
  private var absent: Array[Long] = Array.empty
  private var liveFiles = 0L
  private var shipFrom = LocalDate.of(1992, 1, 2)
  private var shipDays = 1
  private var lookupRows = 0L
  private var ops = 0
  private val kept = mutable.ArrayBuffer.empty[(Read, Seq[Row])]

  /** One read op with its parameters, replayable on the plain source. */
  sealed trait Read { def kind: String; def on(df: DataFrame): DataFrame }
  final case class Lookup(k: Long) extends Read {
    def kind = "lookup"
    def on(df: DataFrame) = df.filter(col("l_orderkey") === k)
  }
  final case class Range(lo: Long, hi: Long) extends Read {
    def kind = "range"
    def on(df: DataFrame) = df.filter(col("l_orderkey").between(lo, hi))
  }
  case object Fetch extends Read {
    def kind = "fetch"
    val fields = Seq("l_orderkey", "l_linenumber", "l_extendedprice")
    def on(df: DataFrame) = df.select(fields.map(col): _*).orderBy(col("l_extendedprice").desc).limit(10)
  }
  final case class Sql(from: LocalDate) extends Read {
    def kind = "sql"
    def text(table: String) =
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,
         |  avg(l_discount) AS disc FROM $table
         |WHERE l_shipdate >= TIMESTAMP'$from 00:00:00'
         |  AND l_shipdate < TIMESTAMP'${from.plusDays(90)} 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin
    def on(df: DataFrame) = {
      df.createOrReplaceTempView("perfbench_source")
      spark.sql(text("perfbench_source"))
    }
  }

  def setup(): Unit = {
    Workload.digestFile(digest, s"$sfDir/lineitem.parquet")
    keys = phase("keys")(source.select("l_orderkey").distinct().collect().map(_.getLong(0)).sorted)
    // SQL windows start inside the data's ship dates, so no window is
    // pruned away whole and every SQL op scans alike
    val Row(first: java.sql.Timestamp, last: java.sql.Timestamp) =
      source.agg(min("l_shipdate"), max("l_shipdate")).head()
    shipFrom = first.toLocalDateTime.toLocalDate
    shipDays = math.max(1, java.time.temporal.ChronoUnit.DAYS.between(shipFrom, last.toLocalDateTime.toLocalDate).toInt - 90)
    val (lo, hi) = (keys.head, keys.last)
    val step = (hi - lo) / Appends + 1
    phase("appends")((0 until Appends).foreach { i =>
      val from = lo + i * step
      val r = wh.update(Table, source.filter(col("l_orderkey") >= from && col("l_orderkey") < from + step))
      require(r.isRight, s"append $i failed: $r")
    })
    phase("analyze_stats")(wh.analyzeStats(Table)).left.foreach(e => sys.error(s"analyzeStats: ${e.message}"))
    phase("analyze_bloom")(wh.analyzeBloom(Table, Seq("l_orderkey")))
      .left.foreach(e => sys.error(s"analyzeBloom: ${e.message}"))
    val present = keys.toSet
    // absent keys inside the key range where the data has gaps, past it otherwise
    absent = (lo to hi).iterator.filterNot(present.contains).take(10000).toArray match {
      case gaps if gaps.nonEmpty => gaps
      case _ => Array.tabulate(10000)(i => hi + 1 + i)
    }
    liveFiles = Workload.dataFiles(wh, Table)
    // warm-up: one whole block, outside the timed window
    phase("warm_up")(block(new Random(seed ^ 0x5eed)).foreach(r => execute(r, None)))
  }

  /** 20 ops: 10 point lookups (one on an absent key), 3 narrow ranges,
    * 3 fetches and 4 grouped-aggregate SQL queries, in seeded order.
    */
  private def block(r: Random): Seq[Read] = {
    def key = keys(r.nextInt(keys.length))
    r.shuffle(
      Seq.fill(9)(Lookup(key)) ++ Seq(Lookup(absent(r.nextInt(absent.length)))) ++
        Seq.fill(3) { val k = key; Range(k, k + 31) } ++ Seq.fill(3)(Fetch) ++
        Seq.fill(4)(Sql(shipFrom.plusDays(r.nextInt(shipDays)))))
  }

  /** Run one read through the warehouse API; returns its rows. */
  private def execute(read: Read, tr: Option[Tracer]): Seq[Row] = {
    def span[A](name: String)(body: => A): A = tr.fold(body)(_.span(name)(body))
    read match {
      case Fetch =>
        span("warehouse.fetch")(wh.fetch(Table, Fetch.fields, Seq("l_extendedprice" -> QuerySort.Desc), 10)
          .fold(e => throw new IllegalStateException(e.message), _.collect().toSeq))
      case q: Sql =>
        val df = span("warehouse.sql_plan") { val d = wh.query(q.text(Table)); d.queryExecution.executedPlan; d }
        span("warehouse.sql_exec")(df.collect().toSeq)
      case _ =>
        val df = span("warehouse.get")(wh.get(Table))
          .fold(e => throw new IllegalStateException(e.message), identity)
        span("warehouse.lookup_exec")(read.on(df).collect().toSeq)
    }
  }

  // whole blocks, so every run holds the same op mix
  def loop(run: Run): Unit =
    (1 to run.units(ServeReads.BlockSeconds)).foreach(_ => block(rnd).foreach { read =>
      digest.update(read.toString.getBytes("UTF-8"))
      var rows: Seq[Row] = Nil
      run.op(read.kind) { rows = execute(read, Some(run.tracer)); true }
      if (read.kind == "lookup") lookupRows += rows.size
      if (ops % CheckEvery == 0) kept += read -> rows
      ops += 1
    })

  private def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).sorted

  private def close(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && (0 until x.size).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
          case (p, q) => p == q
        }
      }
    }

  def check(): Seq[String] = kept.toSeq.flatMap { case (read, got) =>
    val want = read.on(source).collect().toSeq
    val ok = read match {
      // ties on the sort key may pick different rows; the values must agree
      case Fetch => got.map(_.getAs[Double]("l_extendedprice")) == want.map(_.getAs[Double]("l_extendedprice"))
      case _: Sql => close(got, want)
      case _ => canon(got) == canon(want)
    }
    if (ok) Nil else Seq(s"$read: got ${got.take(3)} (${got.size} rows), source ${want.take(3)} (${want.size} rows)")
  }

  def inputFingerprint: String = Workload.hex(digest)

  def metrics(run: Run): Map[String, Double] = {
    val lookups = run.of("lookup")
    Map(
      "lookup_p50_s" -> Stats.median(lookups),
      "lookup_p90_s" -> Stats.quantile(lookups, 0.9),
      "fetch_p50_s" -> Stats.median(run.of("fetch")),
      "sql_p50_s" -> Stats.median(run.of("sql")))
  }

  def layers(run: Run): Map[String, Double] = {
    val tr = run.tracer
    // lookups are the point reads; their get and execution spans are
    // the children of the op.lookup spans
    val lookupOps = tr.named("op.lookup")
    val children = lookupOps.flatMap(tr.descendants)
    val work = tr.work(children)
    val n = lookupOps.size.toDouble
    val files = work.scanFiles.toDouble
    Map(
      "warehouse.get_s" -> Stats.mean(children.filter(_.name == "warehouse.get").map(_.seconds)),
      "warehouse.lookup_exec_s" -> Stats.mean(children.filter(_.name == "warehouse.lookup_exec").map(_.seconds)),
      "warehouse.files_read_per_lookup" -> Stats.ratio(files, n),
      "warehouse.files_skipped_share" -> (if (n == 0) 0.0 else 1.0 - files / (n * liveFiles)),
      "warehouse.rows_scanned_per_row_returned" -> Stats.ratio(work.scanRows, lookupRows),
      "warehouse.jobs_per_lookup" -> Stats.ratio(work.jobs, n),
      "warehouse.tasks_per_lookup" -> Stats.ratio(work.tasks, n),
      "warehouse.fetch_s" -> tr.meanSeconds("warehouse.fetch"),
      "warehouse.sql_plan_s" -> tr.meanSeconds("warehouse.sql_plan"),
      "warehouse.sql_exec_s" -> tr.meanSeconds("warehouse.sql_exec"),
      "warehouse.manifest_cache_files" -> wh.manifestCacheResident._2.toDouble,
      "warehouse.stats_cache_bytes" -> wh.statsCacheResident._2.toDouble)
  }
}

object ServeReads {
  /** Nominal seconds of one block of 20 reads at `local[4]`. */
  val BlockSeconds = 3.0
}
