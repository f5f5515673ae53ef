package graft

import graft.schema._
import graft.schema.Lat.Tag._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for the unification lattice + widening rules (SURVEY §1.3,
  * §1.4) — ports the reference's documented behaviors:
  * `src/load_datawarehouse/schema.py:434-482` (guess_warehouse_dtype),
  * `schema.py:265-403` (condense), `bigquery/schema.py:439-511` (emission),
  * and the doc example at `bigquery/schema.py:641-709`.
  */
class WidenSpec extends AnyFunSuite {

  test("mixed str+int widens to STRING (schema.py:29 documented rule)") {
    assert(Widen.widen(Seq(TInt, TStr)).contains("STRING"))
    assert(Widen.widen(Seq(TStr, TInt)).contains("STRING"))
  }

  test("temporal/bytes precedence order: bytes > datetime > date > time > str") {
    assert(Widen.widen(Seq(TStr, TBytes)).contains("BYTES"))
    assert(Widen.widen(Seq(TDate, TDatetime)).contains("DATETIME"))
    assert(Widen.widen(Seq(TStr, TDate)).contains("DATE"))
    assert(Widen.widen(Seq(TStr, TTime)).contains("TIME"))
  }

  test("numeric widening: int+float -> FLOAT, bool+int -> INTEGER, bool -> BOOLEAN") {
    assert(Widen.widen(Seq(TInt, TFloat)).contains("FLOAT"))
    assert(Widen.widen(Seq(TBool, TInt)).contains("INTEGER"))
    assert(Widen.widen(Seq(TBool)).contains("BOOLEAN"))
    assert(Widen.widen(Seq(TInt)).contains("INTEGER"))
  }

  test("forceNumeric skips the string-precedence switch") {
    assert(Widen.widen(Seq(TStr, TInt), forceNumeric = true).contains("INTEGER"))
  }

  test("empty/unknown type set -> None -> default STRING NULLABLE on emission") {
    assert(Widen.widen(Nil).isEmpty)
    val repr = Widen.condense(Lat.LRecord(Vector("x" -> Lat.LEmpty), Map("x" -> 0L)))
    assert(repr == Seq(FieldRepr("x", "STRING", "NULLABLE")))
  }

  test("nested record emits RECORD REPEATED even when observed as single dict (§1.4)") {
    val lat = Lat.LRecord(Vector(
      "a" -> Lat.scalar(TInt),
      "nest" -> Lat.LRecord(Vector("b" -> Lat.scalar(TStr)), Map("b" -> 0L))),
      Map("a" -> 0L, "nest" -> 0L))
    val repr = Widen.condense(lat)
    assert(repr(1) == FieldRepr("nest", "RECORD", "REPEATED",
      Seq(FieldRepr("b", "STRING", "NULLABLE"))))
    val st = Widen.toStructType(repr)
    assert(st("nest").dataType ==
      ArrayType(StructType(Seq(StructField("b", StringType))), containsNull = true))
  }

  test("repeated scalar emits scalar REPEATED -> ArrayType(primitive)") {
    val lat = Lat.LRecord(Vector("xs" -> Lat.LList(Lat.scalar(TInt))), Map("xs" -> 0L))
    val repr = Widen.condense(lat)
    assert(repr.head == FieldRepr("xs", "INTEGER", "REPEATED"))
    assert(Widen.toStructType(repr)("xs").dataType ==
      ArrayType(LongType, containsNull = true))
  }

  test("existing schema overrides inference per-field (schema.py:359-375)") {
    val lat = Lat.LRecord(Vector("a" -> Lat.scalar(TInt)), Map("a" -> 0L))
    val existing = Seq(FieldRepr("a", "FLOAT", "NULLABLE"))
    assert(Widen.condense(lat, existing) == existing)
  }
}

class InferenceSpec extends AnyFunSuite {

  test("record walk: the reference doc example shape (bigquery/schema.py:641-709)") {
    val records = Seq(
      Map("id" -> 1, "name" -> "alpha", "score" -> 1.5,
        "tags" -> Seq("x", "y"),
        "meta" -> Map("created by" -> "a", "n" -> 2)),
      Map("id" -> 2, "name" -> "beta", "active" -> true,
        "meta" -> Map("created by" -> "b")))
    val repr = SchemaInference.extract(records)
    val byName = repr.map(f => f.name -> f).toMap
    assert(byName("id") == FieldRepr("id", "INTEGER", "NULLABLE"))
    assert(byName("name") == FieldRepr("name", "STRING", "NULLABLE"))
    assert(byName("score") == FieldRepr("score", "FLOAT", "NULLABLE"))
    assert(byName("tags") == FieldRepr("tags", "STRING", "REPEATED"))
    assert(byName("active") == FieldRepr("active", "BOOLEAN", "NULLABLE"))
    val metaF = byName("meta")
    assert(metaF.fieldType == "RECORD" && metaF.mode == "REPEATED")
    // invalid key cleaned during inference
    assert(metaF.fields.map(_.name) == Seq("created_by", "n"))
  }

  test("field order follows first observation; factor counts adding records") {
    val d = SchemaInference.deconstructRecords(Seq(
      Map("a" -> 1), Map("a" -> 2, "b" -> 3), Map("b" -> 4), Map("c" -> 5)))
    assert(d.records == 4 && d.typeErrors == 0)
    val names = d.lat.asInstanceOf[Lat.LRecord].fields.map(_._1)
    assert(names == Vector("a", "b", "c"))
    assert(d.addingFields == 3) // records 0, 1, 3 introduced fields
    assert(math.abs(d.factorOfRecordsAddingFields - 0.75) < 1e-12)
  }

  test("non-record top-level entries excluded and counted as type errors") {
    val d = SchemaInference.deconstructRecords(Seq(Map("a" -> 1), "oops", 42))
    assert(d.records == 1 && d.typeErrors == 2)
  }

  test("mixed list (dicts + scalars): dicts win, scalars are type errors") {
    val d = SchemaInference.deconstructRecords(Seq(
      Map("xs" -> Seq(Map("k" -> 1), "stray"))))
    assert(d.typeErrors == 1)
    val repr = Widen.condense(d.lat)
    assert(repr.head.fieldType == "RECORD" && repr.head.mode == "REPEATED")
    // the distributed JSON walker applies the same list fold
    val spark = SparkTestBase.spark
    import spark.implicits._
    val dj = SchemaInference.deconstructJson(
      Seq("""{"xs":[{"k":1},"stray"]}""").toDS())
    assert(dj.typeErrors == 1)
    val jrepr = Widen.condense(dj.lat)
    assert(jrepr.map(f => (f.name, f.fieldType, f.mode)) ==
      Seq(("xs", "RECORD", "REPEATED")))
  }

  test("temporal scala types map through the precedence chain") {
    val repr = SchemaInference.extract(Seq(
      Map("t" -> java.time.LocalDateTime.now(), "d" -> java.time.LocalDate.now(),
        "i" -> java.time.Instant.now(), "b" -> Array[Byte](1, 2))))
    val byName = repr.map(f => f.name -> f.fieldType).toMap
    assert(byName == Map("t" -> "DATETIME", "d" -> "DATE", "i" -> "TIMESTAMP", "b" -> "BYTES"))
  }

  test("nulls are skipped; all-null field defaults to STRING NULLABLE") {
    val repr = SchemaInference.extract(Seq(Map("x" -> null), Map("x" -> null)))
    assert(repr == Seq(FieldRepr("x", "STRING", "NULLABLE")))
  }

  test("distributed JSON inference matches driver-side semantics") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val lines = Seq(
      """{"id": 1, "name": "a", "score": 1.5, "tags": ["x"], "meta": {"created by": "a"}}""",
      """{"id": 2, "name": "b", "active": true, "meta": {"created by": "b", "n": 3}}""",
      """not json at all""",
      """[1,2,3]""")
    val d = SchemaInference.deconstructJson(spark.createDataset(lines))
    assert(d.records == 2 && d.typeErrors == 2)
    val repr = Widen.condense(d.lat)
    val byName = repr.map(f => f.name -> f).toMap
    assert(byName("id").fieldType == "INTEGER")
    assert(byName("score").fieldType == "FLOAT")
    assert(byName("tags") == FieldRepr("tags", "STRING", "REPEATED"))
    assert(byName("meta").fieldType == "RECORD")
    assert(byName("meta").fields.map(_.name).contains("created_by"))
  }

  test("mixed str+int in JSON widens to STRING end-to-end") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val d = SchemaInference.deconstructJson(
      spark.createDataset(Seq("""{"v": 1}""", """{"v": "x"}""")))
    assert(Widen.condense(d.lat) == Seq(FieldRepr("v", "STRING", "NULLABLE")))
  }
}

class CodecSpec extends AnyFunSuite {

  private val sample = Seq(
    FieldRepr("id", "INTEGER", "NULLABLE"),
    FieldRepr("name", "STRING", "REQUIRED"),
    FieldRepr("tags", "STRING", "REPEATED"),
    FieldRepr("meta", "RECORD", "REPEATED", Seq(
      FieldRepr("k", "STRING", "NULLABLE"),
      FieldRepr("deep", "RECORD", "REPEATED", Seq(
        FieldRepr("v", "FLOAT", "NULLABLE"))))))

  test("api_repr JSON round-trip is the identity") {
    assert(SchemaCodec.fromJson(SchemaCodec.toJson(sample)) == sample)
  }

  test("StructType round-trip preserves shape") {
    val st = Widen.toStructType(sample)
    val back = SchemaCodec.fromStructType(st)
    assert(Widen.toStructType(back) == st)
  }

  test("invalid api_repr rejected") {
    intercept[IllegalArgumentException] {
      SchemaCodec.fromJson("""[{"name": "x"}]""")
    }
  }

  test("invalid type/mode rejected at construction") {
    intercept[IllegalArgumentException] { FieldRepr("x", "NOPE", "NULLABLE") }
    intercept[IllegalArgumentException] { FieldRepr("x", "STRING", "SOMETIMES") }
  }

  test("describe renders an aligned box tree") {
    val out = Describe("t", sample, echo = false)
    assert(out.contains("├─ id"))
    assert(out.contains("   ├─ k")) // children of the last field indent plain
    assert(out.contains("      └─ v")) // grandchild under deep
    assert(out.contains("└─ meta"))
    assert(out.linesIterator.exists(l => l.contains("RECORD") && l.contains("REPEATED")))
  }
}

class SanitizeSpec extends AnyFunSuite {

  test("clean_field_key: \\W -> _, non-str keys stringified (data.py:13-26)") {
    assert(Sanitize.cleanFieldKey("b something") == "b_something")
    assert(Sanitize.cleanFieldKey("b.2") == "b_2")
    assert(Sanitize.cleanFieldKey(42) == "42")
    assert(Sanitize.cleanFieldKey("ok_name") == "ok_name")
  }

  test("clean_field_key idempotence") {
    val keys = Seq("a b", "x.y.z", "weird!@#key", "_ok", "1 2 3")
    keys.foreach { k =>
      val once = Sanitize.cleanFieldKey(k)
      assert(Sanitize.cleanFieldKey(once) == once)
      assert(!once.exists(c => !c.isLetterOrDigit && c != '_'))
    }
  }

  test("deep rename over nested struct/array types") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val df = Seq((1, "x")).toDF("a key", "b.2")
      .select(org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.col("`a key`").as("inner key")).as("nest ed"),
        org.apache.spark.sql.functions.col("`b.2`"))
    val cleaned = Sanitize.cleanColumns(df)
    assert(cleaned.columns.toSeq == Seq("nest_ed", "b_2"))
    val nested = cleaned.schema("nest_ed").dataType.asInstanceOf[StructType]
    assert(nested.fieldNames.toSeq == Seq("inner_key"))
    // data intact after rename
    assert(cleaned.select("nest_ed.inner_key").as[Int].collect().toSeq == Seq(1))
  }
}
