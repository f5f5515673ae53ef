package perfbench

import graft.ingest.{Chunker, Ingest}
import graft.schema.{FieldRepr, SchemaInference}
import graft.warehouse.SparkWarehouse
import org.apache.spark.sql.{Encoders, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable
import scala.util.Random

/** Seeded nested JSON batches with the shapes the paper's loader exists
  * for: dirty keys, int/float mixing on one field, a nested record, an
  * array of records, a scalar array, nulls, and a new field every few
  * batches of a table. The generator declares the schema the warehouse
  * must end with.
  */
final class JsonBatches(seed: Long) {
  private val rnd = new Random(seed)
  private var nextId = 0L
  private val digest = MessageDigest.getInstance("SHA-256")

  /** One batch of `n` records for the `batch`-th load of a table. */
  def batch(n: Int, batch: Int): Seq[String] = {
    val extras = JsonBatches.extrasAt(batch)
    val out = Seq.tabulate(n) { i =>
      val g = nextId + i
      val r = rnd.nextInt(1000000)
      val b = new StringBuilder(256)
      b ++= s"""{"id":$g,"user name":"user_${r % 997}","a-b.c":${r % 13},"""
      // int/float mixing on one field, both present in every batch
      b ++= (if (i % 2 == 0) s""""score":${r % 100},""" else s""""score":${r % 100}.25,""")
      b ++= (if (i % 5 == 1) """"active":null,""" else s""""active":${r % 2 == 0},""")
      b ++= s""""profile":{"city":"city_${r % 50}","home-town":"town_${r % 7}","zip":${10000 + r % 9000}},"""
      b ++= (0 until 1 + r % 3).map(k => s"""{"page":"/p/${(r + k) % 20}","ms":${(r >> k) % 1000}}""")
        .mkString(""""visits":[""", ",", "],")
      b ++= s""""tags":["t${r % 7}","t${r % 11}"],"""
      b ++= (if (i % 3 == 2) """"note":null""" else s""""note":"n$g"""")
      extras.foreach { k =>
        b ++= (if (k % 2 == 0) s""","ext $k":${r % (k + 2)}""" else s""","ext $k":"e${r % 5}"""")
      }
      b += '}'
      b.toString
    }
    nextId += n
    out.foreach(l => digest.update(l.getBytes(UTF_8)))
    out
  }

  def fingerprint: String = Workload.hex(digest)
}

object JsonBatches {
  /** Batch sizes for one cycle: the midpoints of 8 equal slices of
    * log(20)..log(20000), so every cycle holds the same log-uniform spread
    * (median ≈ 630, mean ≈ 2,800 records). The order is fixed and gives each
    * of 4 round-robin tables one small and one large batch, so a seed
    * changes the records, not the work.
    */
  val Cycle: Seq[Int] =
    Seq(7, 0, 5, 2, 1, 6, 3, 4).map(i => math.round(20.0 * math.pow(1000.0, (i + 0.5) / 8)).toInt)

  /** A new field `ext k` appears at a table's batch 2k+1 and stays. */
  def extrasAt(batch: Int): Seq[Int] = 0 until (batch + 1) / 2

  /** The schema a table must hold after `batches` loads, as
    * (cleaned name → (type, mode, sub-fields)).
    */
  def expected(batches: Int): Map[String, (String, String, Map[String, (String, String)])] = {
    val base = Map(
      "id" -> ("INTEGER", "NULLABLE", Map.empty[String, (String, String)]),
      "user_name" -> ("STRING", "NULLABLE", Map.empty[String, (String, String)]),
      "a_b_c" -> ("INTEGER", "NULLABLE", Map.empty[String, (String, String)]),
      "score" -> ("FLOAT", "NULLABLE", Map.empty[String, (String, String)]),
      "active" -> ("BOOLEAN", "NULLABLE", Map.empty[String, (String, String)]),
      "profile" -> ("RECORD", "REPEATED", Map("city" -> ("STRING", "NULLABLE"),
        "home_town" -> ("STRING", "NULLABLE"), "zip" -> ("INTEGER", "NULLABLE"))),
      "visits" -> ("RECORD", "REPEATED", Map("page" -> ("STRING", "NULLABLE"),
        "ms" -> ("INTEGER", "NULLABLE"))),
      "tags" -> ("STRING", "REPEATED", Map.empty[String, (String, String)]),
      "note" -> ("STRING", "NULLABLE", Map.empty[String, (String, String)]))
    base ++ extrasAt(math.max(0, batches - 1)).map { k =>
      s"ext_$k" -> ((if (k % 2 == 0) "INTEGER" else "STRING"), "NULLABLE", Map.empty[String, (String, String)])
    }
  }

  def actual(fields: Seq[FieldRepr]): Map[String, (String, String, Map[String, (String, String)])] =
    fields.map { f =>
      f.name -> ((f.fieldType, f.mode, f.fields.map(s => s.name -> ((s.fieldType, s.mode))).toMap))
    }.toMap
}

/** `ingest_api`: repeated `loadJson` calls, round-robin over 4 tables. */
final class IngestApi(spark: SparkSession, wh: SparkWarehouse, seed: Long) extends Workload {
  private val Tables = 4
  private val gen = new JsonBatches(seed)
  private val sent = Array.fill(Tables)(0L)
  private val batches = Array.fill(Tables)(0)
  private var records = 0L
  private var inputBytes = 0L
  private var filesWritten = 0L
  private var chunks = 0L
  private val mismatches = mutable.ArrayBuffer.empty[String]

  private def table(t: Int) = s"events_$t"

  private def ds(lines: Seq[String]) = spark.createDataset(lines)(Encoders.STRING)

  def setup(): Unit =
    // each table's first batch, outside the window: it creates the table, so
    // every timed load appends, and the largest stratum warms the JIT
    phase("warm_up")(Seq(13000, 600, 600, 600).zipWithIndex.foreach { case (n, t) =>
      require(load(t, gen.batch(n, batches(t))), s"set-up load of ${table(t)} failed")
    })

  /** One `loadJson` call, checked against the rows sent. */
  private def load(t: Int, lines: Seq[String]): Boolean = {
    val r = wh.loadJson(table(t), lines)
    if (r != Right(lines.size.toLong)) mismatches += s"${table(t)} batch ${batches(t)}: sent ${lines.size}, got $r"
    batches(t) += 1
    sent(t) += lines.size
    r.isRight
  }

  private def dataFiles(t: Int): Long = Workload.dataFiles(wh, table(t))

  def loop(run: Run): Unit = {
    var op = 0
    // whole cycles, so every run holds the same size spread
    (1 to run.units(IngestApi.CycleSeconds)).foreach(_ => JsonBatches.Cycle.foreach { n =>
      val t = op % Tables
      op += 1
      val lines = run.untimed(gen.batch(n, batches(t)))
      val before = if (run.tracer.enabled) run.untimed(dataFiles(t)) else 0L
      run.op("load")(run.tracer.span("warehouse.load")(load(t, lines)))
      records += n
      inputBytes += run.untimed(lines.iterator.map(_.getBytes(UTF_8).length.toLong).sum)
      if (run.tracer.enabled) run.untimed(probe(run.tracer, t, lines, before))
    })
  }

  /** Traced mode only: time the layers under `loadJson` by calling their
    * public functions on the same batch.
    */
  private def probe(tr: Tracer, t: Int, lines: Seq[String], filesBefore: Long): Unit = {
    filesWritten += dataFiles(t) - filesBefore
    tr.span("schema.infer")(SchemaInference.inferJson(spark, ds(lines)))
    tr.span("ingest.canonicalize")(lines.foreach(Ingest.canonicalizeJsonLine))
    val prepared = Ingest.prepareJson(spark, ds(lines))
    val sized = prepared.withColumn("_graft_size", Ingest.rowJsonSize(prepared))
    tr.span("ingest.chunk")(Chunker.greedyChunkIds(sized, "_graft_size")) match {
      case Right(c) => chunks += c.chunks; c.unpersist()
      case Left(e) => mismatches += s"greedyChunkIds: ${e.message}"
    }
  }

  def check(): Seq[String] =
    mismatches.toSeq ++ (0 until Tables).flatMap { t =>
      if (batches(t) == 0) Nil
      else {
        val count = wh.get(table(t)).map(_.count())
        val want = JsonBatches.expected(batches(t))
        val have = wh.meta(table(t)).map(m => JsonBatches.actual(m.schema))
        (if (count != Right(sent(t))) Seq(s"${table(t)}: count $count, sent ${sent(t)}") else Nil) ++
          (if (have != Right(want)) Seq(s"${table(t)}: schema $have, declared $want") else Nil)
      }
    }

  def inputFingerprint: String = gen.fingerprint

  def metrics(run: Run): Map[String, Double] = {
    val loads = run.of("load")
    Map(
      "ingest_records_per_s" -> records / run.elapsed,
      "load_p50_s" -> Stats.median(loads))
  }

  def layers(run: Run): Map[String, Double] = {
    val tr = run.tracer
    val n = run.of("load").size.toDouble
    val load = tr.work("warehouse.load")
    Map(
      "schema.infer_s" -> tr.meanSeconds("schema.infer"),
      "schema.jobs_per_infer" -> Stats.ratio(tr.work("schema.infer").jobs, tr.named("schema.infer").size),
      "ingest.canonicalize_s" -> tr.meanSeconds("ingest.canonicalize"),
      "ingest.chunk_s" -> tr.meanSeconds("ingest.chunk"),
      "ingest.chunks_per_load" -> Stats.ratio(chunks, tr.named("ingest.chunk").size),
      "ingest.json_bytes_per_record" -> Stats.ratio(inputBytes, records),
      "warehouse.load_s" -> tr.meanSeconds("warehouse.load"),
      "warehouse.jobs_per_load" -> Stats.ratio(load.jobs, n),
      "warehouse.tasks_per_load" -> Stats.ratio(load.tasks, n),
      "warehouse.files_written_per_load" -> Stats.ratio(filesWritten, n),
      "warehouse.bytes_written_per_input_byte" -> Stats.ratio(load.outputBytes, inputBytes))
  }
}

object IngestApi {
  /** Nominal seconds of one cycle of 8 loads at `local[4]`. */
  val CycleSeconds = 8.0
}
