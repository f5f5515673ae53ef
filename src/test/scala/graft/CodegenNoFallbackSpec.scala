package graft

import graft.functions.{NormalizeExpressions, PqFunctions, SketchFunctions, VectorFunctions, WinnowPositions}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Every fused codegen kernel must actually COMPILE under janino.
  *
  * Spark's default behavior on a codegen compile failure is a SILENT
  * fallback to interpreted evaluation — correct results, an order of
  * magnitude slower, and nothing fails. Round 8 caught exactly that:
  * `TopTokenCount`'s generated code used a generic `HashMap<Object,
  * Integer>`, which javac accepts but janino rejects, and the kernel
  * quietly ran interpreted until a kernel timing exposed it. This
  * spec closes that hole permanently: it evaluates every custom
  * expression with `spark.sql.codegen.fallback=false` and
  * `factoryMode=CODEGEN_ONLY`, so a janino rejection is a test failure,
  * not a silent 10× regression.
  */
class CodegenNoFallbackSpec extends SparkSpec {

  private def withNoFallback[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("every fused kernel compiles under janino (no silent interpreted fallback)") {
    val sps = spark; import sps.implicits._
    val codebook: Array[Array[Float]] =
      Array(Array(0.1f, 0.2f, 0.3f, 0.4f), Array(0.5f, 0.6f, 0.7f, 0.8f))
    val codebooks: Array[Array[Array[Float]]] =
      Array(Array(Array(0.1f, 0.2f), Array(0.3f, 0.4f)),
        Array(Array(0.5f, 0.6f), Array(0.7f, 0.8f)))
    val mean = Array(0.0d, 0.0d, 0.0d, 0.0d)
    val basis = Array(Array(1.0d, 0.0d, 0.0d, 0.0d), Array(0.0d, 1.0d, 0.0d, 0.0d))

    // MUST come from a file scan: a projection over a local Seq relation
    // is folded by ConvertToLocalRelation at optimization time and
    // evaluated INTERPRETED on the driver — no codegen would ever run
    // and this spec would be vacuous (verified: the round-8 broken
    // TopTokenCount passed the local-relation form of this test).
    val staged = java.nio.file.Files
      .createTempDirectory("graft-codegen-spec").toString
    Seq(
      (Seq(1.0f, 2.0f, 3.0f, 4.0f), Seq(4.0f, 3.0f, 2.0f, 1.0f),
        Seq(11L, 22L, 33L), Seq(11L, 99L, 33L), Seq(0, 1),
        Seq("a", "b", "a", "c"), "Héllo  wörld a b a"),
      (Seq(0.5f, 0.5f, 0.5f, 0.5f), Seq(1.0f, 0.0f, 1.0f, 0.0f),
        Seq(7L, 8L, 9L), Seq(7L, 8L, 9L), Seq(1, 0),
        Seq("x", "x", "x"), "plain text x y x")
    ).toDF("va", "vb", "ha", "hb", "codes", "toks", "text")
      .write.mode("overwrite").parquet(staged)
    val df = spark.read.parquet(staged)

    val kernels: Seq[(String, Column)] = Seq(
      "vector_dot" -> VectorFunctions.vector_dot(col("va"), col("vb")),
      "vector_cosine" -> VectorFunctions.vector_cosine(col("va"), col("vb")),
      "vector_cosine_quantized" ->
        VectorFunctions.vector_cosine_quantized(col("va"), col("vb")),
      "hyperplane_bucket" -> VectorFunctions.hyperplane_bucket(col("va"), 4),
      "centroid_l2_scores" ->
        VectorFunctions.centroid_l2_scores(col("va"), codebook),
      "centroid_cosq_scores" ->
        VectorFunctions.centroid_cosq_scores(col("va"), codebook),
      "nearest_centroid_cosq" ->
        VectorFunctions.nearest_centroid_cosq(col("va"), codebook),
      "affine_project" -> VectorFunctions.affine_project(col("va"), mean, basis),
      "pq_encode" -> PqFunctions.pq_encode(col("va"), codebooks),
      "pq_adc_tables" -> PqFunctions.pq_adc_tables(col("va"), codebooks),
      "pq_adc_distance" -> PqFunctions.pq_adc_distance(
        PqFunctions.pq_adc_tables(col("va"), codebooks), col("codes")),
      "minhash_from_hashes" -> SketchFunctions.minhash_from_hashes(
        col("ha"), 4, Seq(999983L, 999979L, 999961L, 999959L),
        Seq(12345L, 67891L, 234567L, 345679L)),
      "simhash_from_hashes" -> SketchFunctions.simhash_from_hashes(col("ha")),
      "sig_agreement" -> SketchFunctions.sig_agreement(col("ha"), col("hb")),
      "top_token_count" -> SketchFunctions.top_token_count(col("toks")),
      "marker_counts" -> SketchFunctions.marker_counts(col("toks"),
        Seq(Seq("a", "b"), Seq("x"))),
      "masked_keep" -> SketchFunctions.masked_keep(col("toks"),
        array(lit(0))),
      "winnow_positions" -> WinnowPositions.of(col("ha"), 2),
      "damerau_levenshtein" ->
        graft.functions.EditDistanceExpressions.damerauLevenshtein(
          col("text"), col("text")),
      "unicode_normalize" ->
        NormalizeExpressions.unicodeNormalize(col("text"), "NFKC")
    )

    withNoFallback {
      kernels.foreach { case (name, c) =>
        val rows =
          try df.select(c.as("v")).collect()
          catch {
            case e: Throwable =>
              fail(s"kernel '$name' failed under CODEGEN_ONLY " +
                s"(janino rejection or codegen bug): ${e.getMessage}")
          }
        assert(rows.length == 2, s"kernel '$name' returned ${rows.length} rows")
      }
    }
  }
}
