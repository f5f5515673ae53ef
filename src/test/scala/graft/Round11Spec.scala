package graft

import org.apache.spark.sql.functions._

/** Round-11 pins: the calibration kernels that replaced per-grid-point
  * probe actions are DIFFERENTIALLY equal to the probed forms they
  * replaced (the r10 bench paid 16 probe actions per IVF calibration
  * and 32 per IVF-PQ grid at gate scale), and the r10-advice warehouse
  * fixes hold (string comparisons excluded from JDBC DML pushdown;
  * relative tombstone paths survive hostile warehouse roots).
  */
class Round11Spec extends SparkSpec {

  test("one-pass IVF calibration curve ≡ the per-width probed curve") {
    val e = Tables(spark, sf0001, "embeddings")
    val model = graft.ext.Ivf.train(e, "embedding", nCentroids = 8)
    val indexed = graft.ext.Ivf.index(e, model).localCheckpoint()
    try {
      val queries = e.orderBy(rand(7L).asc).limit(12)
        .select(col("vec_id"), col("embedding"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val derived = rows(graft.ext.Ivf.calibrateNProbe(
        indexed, queries, model, k = 5, maxProbe = 8))
      val probed = rows(graft.ext.Ivf.calibrateNProbeProbed(
        indexed, queries, model, k = 5, maxProbe = 8))
      // the derivation (hits(p) = truth pairs whose centroid ranks ≤ p
      // in the query's probe order) must reproduce the literally-probed
      // recall at EVERY width — same score, same tiebreak, subset pools
      // can't displace a global-top-k neighbor
      assert(derived == probed,
        s"derived curve drifts from probed:\n$derived\nvs\n$probed")
    } finally
      org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(indexed)
  }

  test("IVF-PQ grid kernel ≡ per-point topKPruned probes on the full grid") {
    val e = Tables(spark, sf0001, "embeddings")
    val grid = Seq(16, 64)
    val built = graft.ext.IvfPq.buildCalibrated(e, nCentroids = 4, m = 8,
      k = 5, targetRecall = 2.0 min 1.0, nQueries = 12,
      candidateGrid = grid, earlyStop = false, seed = 42L)
    try {
      // replay the r10 per-point loop literally: one pruned probe + one
      // truth semi-join count per (p, c) over the SAME snapshot, truth
      // from the same seeded sample
      val queries = e
        .select(col("vec_id"), col("embedding"))
        .orderBy(rand(43L).asc).limit(12) // seed + 1, as the builder does
      val truth = graft.ext.Similarity.bruteForceTopK(
        built.indexed.select(col("neighbor_id").as("vec_id"),
          col("nvec").as("embedding")),
        queries, 5).select("query_id", "neighbor_id").localCheckpoint()
      val truthPairs = truth.count().toDouble
      val replayed = (for (p <- 1 to 4; c <- grid) yield {
        val hits = graft.ext.IvfPq.topKPruned(built.indexed, queries,
            built.model, k = 5, nProbe = p, nCandidates = c)
          .select("query_id", "neighbor_id")
          .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
          .count()
        (p, c, hits / truthPairs)
      }).toSeq
      org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(truth)
      assert(built.calibration.curve == replayed,
        s"grid kernel drifts from probed grid:\n" +
          s"${built.calibration.curve}\nvs\n$replayed")
    } finally built.release()
  }

  test("early-stop produces the identical recommendation as the full grid") {
    val e = Tables(spark, sf0001, "embeddings")
    val full = graft.ext.IvfPq.buildCalibrated(e, nCentroids = 4, m = 8,
      k = 5, targetRecall = 0.5, nQueries = 12,
      candidateGrid = Seq(16, 64), earlyStop = false)
    val stopped = graft.ext.IvfPq.buildCalibrated(e, nCentroids = 4, m = 8,
      k = 5, targetRecall = 0.5, nQueries = 12,
      candidateGrid = Seq(16, 64), earlyStop = true)
    try {
      val (f, s) = (full.calibration, stopped.calibration)
      assert((f.recommendedNProbe, f.recommendedNCandidates, f.estRecall,
        f.targetReached) ==
        (s.recommendedNProbe, s.recommendedNCandidates, s.estRecall,
          s.targetReached),
        s"early-stop changed the recommendation: $f vs $s")
      // and the stopped curve is a prefix of the full one
      assert(f.curve.startsWith(s.curve))
    } finally { full.release(); stopped.release() }
  }

  test("string comparisons are excluded from the JDBC DML pushdown " +
    "(pad-space collation would change which rows mutate)") {
    val sps = spark; import sps.implicits._
    val dbDir = java.nio.file.Files.createTempDirectory("graft-r11-jdbc").toString
    val wh = new graft.warehouse.JdbcWarehouse(spark,
      s"jdbc:derby:$dbDir/wh;create=true")
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    unwrap(wh.load("t",
      Seq((1L, "a"), (2L, "a "), (3L, "b")).toDF("id", "name")))
    val existing = unwrap(wh.get("t"))
    // every string-comparison shape refuses to translate…
    assert(wh.deleteSql(existing, "t", col("name") === "a ").isEmpty)
    assert(wh.deleteSql(existing, "t", col("name") < "b").isEmpty)
    assert(wh.deleteSql(existing, "t", col("name") =!= "a").isEmpty)
    assert(wh.deleteSql(existing, "t",
      col("name").isin("a", "b")).isEmpty)
    // …while numeric ones still push, and IS NULL on strings is safe
    assert(wh.deleteSql(existing, "t", col("id") === 1L).isDefined)
    assert(wh.deleteSql(existing, "t", col("name").isNull).isDefined)
    // end-to-end: the engine path's binary no-pad semantics decide —
    // name = 'a ' deletes ONLY the trailing-space row (Derby's own
    // padded comparison would also match 'a')
    unwrap(wh.deleteWhere("t", col("name") === "a "))
    val left = unwrap(wh.get("t")).select("id").collect().map(_.getLong(0)).toSet
    assert(left == Set(1L, 3L), s"engine semantics drifted: kept $left")
  }

  private def filesRead(df: org.apache.spark.sql.DataFrame): Long =
    org.apache.spark.sql.GraftFileIndexBridge.filesRead(df)

  test("zone-map pruning skips files on a clustered table, returns " +
    "identical rows, and never skips statless or unprovable cases") {
    val sps = spark; import sps.implicits._
    val wh = new graft.warehouse.SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-r11-skip").toString)
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    val data = (0L until 10000L).map(i => (i, s"n$i", (i % 97).toDouble))
      .toDF("id", "name", "score")
    unwrap(wh.load("t", data.repartition(4)))
    unwrap(wh.compact("t", targetFiles = 10, sortCols = Seq("id")))
    assert(unwrap(wh.analyzeStats("t")) == 10L)
    val full = unwrap(wh.get("t"))
    val totalFiles = filesRead(full)
    assert(totalFiles == 10L)
    // selective range on the clustered column: most files provably
    // can't match and are dropped from the scan (numFiles metric — the
    // pruning happens INSIDE the FileIndex, invisible to inputFiles)
    val pruned = unwrap(wh.scanPruned("t",
      col("id") >= 2000L && col("id") < 2500L))
    val prunedFiles = filesRead(pruned)
    assert(prunedFiles < totalFiles,
      s"no files skipped ($prunedFiles/$totalFiles)")
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (2000L until 2500L))
    // an all-files-excluded predicate keeps the schema, returns nothing
    val none = unwrap(wh.scanPruned("t", col("id") > 1000000L))
    assert(none.columns.toSeq == full.columns.toSeq && none.count() == 0L)
    assert(filesRead(none) == 0L)
    // a predicate outside the closed subset prunes nothing but stays
    // correct
    val regex = unwrap(wh.scanPruned("t", col("name").rlike("^n123$")))
    assert(regex.count() == 1L)
    // appended files carry no stats and are NEVER skipped
    unwrap(wh.load("t", Seq((20000L, "late", 1.0))
      .toDF("id", "name", "score")))
    val late = unwrap(wh.scanPruned("t", col("id") >= 20000L))
    assert(late.count() == 1L, "statless appended file was skipped")
    // MoR tombstones still apply through the pruned scan
    unwrap(wh.deleteWhereMor("t", col("id") === 2100L))
    assert(unwrap(wh.scanPruned("t",
      col("id") >= 2000L && col("id") < 2500L)).count() == 499L)
  }

  test("pruning is TRANSPARENT: plain get().filter and SQL over the " +
    "registered view skip files; the unfiltered get reads all") {
    val sps = spark; import sps.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r11-transp").toString
    val wh = new graft.warehouse.SparkWarehouse(spark, dir)
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    unwrap(wh.load("tt", (0L until 10000L).map(i => (i, i * 2))
      .toDF("id", "v").repartition(4)))
    unwrap(wh.compact("tt", targetFiles = 10, sortCols = Seq("id")))
    unwrap(wh.analyzeStats("tt"))
    // no special verb: the FileIndex prunes whatever Catalyst pushes
    val viaGet = unwrap(wh.get("tt")).filter(col("id") < 1000L)
    assert(filesRead(viaGet) < 10L, "get().filter did not prune")
    assert(viaGet.count() == 1000L)
    // SQL through the registered view prunes too
    wh.registerView("tt")
    val viaSql = spark.sql("SELECT count(*) AS n FROM tt WHERE id < 1000")
    assert(viaSql.head.getLong(0) == 1000L)
    val sqlScan = spark.sql("SELECT * FROM tt WHERE id < 1000")
    assert(filesRead(sqlScan) < 10L, "SQL view scan did not prune")
    // the unfiltered scan reads every file: the filter is what cut them
    assert(filesRead(unwrap(wh.get("tt"))) == 10L)
  }

  test("Z-order layout makes pruning bite on BOTH dimensions") {
    val sps = spark; import sps.implicits._
    val wh = new graft.warehouse.SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-r11-z").toString)
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    // two independent uniform dims — a single-column sort clusters one
    // and shreds the other
    val data = (0L until 40000L).map(i => (i % 200L, (i * 7919L) % 200L, i))
      .toDF("a", "b", "v")
    unwrap(wh.load("t", data.repartition(4)))
    unwrap(wh.compactZOrder("t", targetFiles = 16, zCols = Seq("a", "b"),
      buckets = 64))
    unwrap(wh.analyzeStats("t"))
    val total = filesRead(unwrap(wh.get("t")))
    val onA = unwrap(wh.scanPruned("t", col("a") < 13L))
    val onB = unwrap(wh.scanPruned("t", col("b") < 13L))
    val (fa, fb) = (filesRead(onA), filesRead(onB))
    assert(fa < total, s"dim a unpruned: $fa/$total")
    assert(fb < total, s"dim b unpruned: $fb/$total")
    // and the rewrite lost nothing
    assert(onA.count() ==
      data.filter(col("a") < 13L).count())
    assert(onB.count() ==
      data.filter(col("b") < 13L).count())
    assert(unwrap(wh.get("t")).agg(sum("v")).head.getLong(0) ==
      (0L until 40000L).sum)
  }

  test("incremental analyzeStats scans ONLY appended files and yields " +
    "the same pruning as a full rebuild") {
    val sps = spark; import sps.implicits._
    val wh = new graft.warehouse.SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-r11-inc").toString)
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    unwrap(wh.load("t", (0L until 10000L).map(i => (i, i * 3))
      .toDF("id", "v").repartition(4)))
    unwrap(wh.compact("t", targetFiles = 10, sortCols = Seq("id")))
    assert(unwrap(wh.analyzeStats("t")) == 10L)
    // nothing appended → nothing analyzed, sidecar untouched
    assert(unwrap(wh.analyzeStats("t")) == 0L)
    // append a sorted batch; the incremental pass must touch ONLY it
    unwrap(wh.load("t", (20000L until 21000L).map(i => (i, i * 3))
      .toDF("id", "v").coalesce(1)))
    val fresh = unwrap(wh.analyzeStats("t"))
    assert(fresh >= 1L && fresh <= 2L, s"expected ~1 new file, got $fresh")
    // analyzed-but-empty files are sentinel-marked: nothing rescans
    assert(unwrap(wh.analyzeStats("t")) == 0L)
    // the appended range now PRUNES (it has stats), old ranges still do
    val late = unwrap(wh.get("t")).filter(col("id") >= 20000L)
    assert(filesRead(late) < 11L && late.count() == 1000L)
    val early = unwrap(wh.get("t")).filter(col("id") < 500L)
    assert(filesRead(early) < 10L && early.count() == 500L)
    // incremental sidecar ≡ full rebuild: same files read per probe
    val incEarly = filesRead(unwrap(wh.get("t")).filter(col("id") < 500L))
    val incLate = filesRead(unwrap(wh.get("t")).filter(col("id") >= 20000L))
    assert(unwrap(wh.analyzeStats("t", incremental = false)) == 10L + fresh)
    assert(filesRead(unwrap(wh.get("t"))
      .filter(col("id") < 500L)) == incEarly)
    assert(filesRead(unwrap(wh.get("t"))
      .filter(col("id") >= 20000L)) == incLate)
  }

  test("Bloom-filter skipping prunes point lookups on an UNCLUSTERED " +
    "layout where zone maps see nothing") {
    val sps = spark; import sps.implicits._
    val wh = new graft.warehouse.SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-r11-bloom").toString)
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    // high-cardinality ids, random layout: every file's [min,max] spans
    // the domain, so zone maps alone cannot prune an equality
    val data = (0L until 20000L).map(i => (i, s"key_$i")).toDF("id", "name")
    unwrap(wh.load("t", data.repartition(10)))
    val total = unwrap(wh.analyzeStats("t"))
    assert(total >= 10L, s"expected >=10 files, got $total")
    assert(filesRead(unwrap(wh.get("t"))) == total)
    // zone maps cannot prune NON-EMPTY files on a random layout; the
    // one zero-row create-file load writes closes on any predicate
    // (r13: the stats sentinel's rows=0 is a proof of emptiness)
    assert(filesRead(unwrap(wh.get("t")).filter(col("id") === 777L))
      == total - 1,
      "zone maps unexpectedly pruned a random layout")
    // blooms on both columns: a point probe now reads ~1 file
    assert(unwrap(wh.analyzeBloom("t", Seq("id", "name"))) == total)
    val eq = unwrap(wh.get("t")).filter(col("id") === 777L)
    assert(filesRead(eq) <= 3L, s"bloom did not prune: ${filesRead(eq)}/$total")
    assert(eq.select("name").head.getString(0) == "key_777")
    val byName = unwrap(wh.get("t")).filter(col("name") === "key_4242")
    assert(filesRead(byName) <= 3L)
    assert(byName.select("id").head.getLong(0) == 4242L)
    // IN-list: union of per-value probes
    val inl = unwrap(wh.get("t"))
      .filter(col("id").isin(11L, 222L, 3333L))
    assert(filesRead(inl) <= 6L && inl.count() == 3L)
    // absent value: provably-missing files skipped, zero rows, no error
    val miss = unwrap(wh.get("t")).filter(col("name") === "absent")
    assert(filesRead(miss) <= 2L && miss.count() == 0L)
    // a bloomless appended file is NEVER skipped
    unwrap(wh.load("t", Seq((999999L, "fresh")).toDF("id", "name")))
    val late = unwrap(wh.get("t")).filter(col("name") === "fresh")
    assert(late.count() == 1L, "bloomless appended file was skipped")
    // incremental bloom analyze covers ONLY the new file(s), then prunes;
    // a second call finds nothing left (empty files sentinel-marked)
    val freshB = unwrap(wh.analyzeBloom("t", Seq("id", "name")))
    assert(freshB >= 1L && freshB <= 2L, s"expected ~1 new file, got $freshB")
    assert(unwrap(wh.analyzeBloom("t", Seq("id", "name"))) == 0L)
    val lateEq = unwrap(wh.get("t")).filter(col("id") === 999999L)
    assert(filesRead(lateEq) <= 3L && lateEq.count() == 1L)
    // negation/range on a bloomed column falls back to zone semantics
    assert(unwrap(wh.get("t")).filter(col("id") =!= 777L).count() == 20000L)
    // unsupported column types are rejected loudly
    val wh2 = new graft.warehouse.SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-r11-bloom2").toString)
    unwrap(wh2.load("f", Seq((1L, 0.5)).toDF("id", "score")))
    assert(wh2.analyzeBloom("f", Seq("score")).isLeft)
  }

  test("joinPruned turns a selective dim into skipped fact FILES " +
    "(dynamic file pruning), result ≡ the plain join") {
    val sps = spark; import sps.implicits._
    val wh = new graft.warehouse.SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-r11-dfp").toString)
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    // clustered fact: 100k rows, 20 files sorted by key → the BETWEEN
    // hull alone closes every file outside the dim's key range
    val fact = (0L until 100000L).map(i => (i, i % 97))
      .toDF("fk", "fv")
    unwrap(wh.load("fact", fact.repartition(8)))
    unwrap(wh.compact("fact", targetFiles = 20, sortCols = Seq("fk")))
    val total = unwrap(wh.analyzeStats("fact"))
    assert(total == 20L)
    val dim = (50000L until 50040L).map(i => (i, s"d_$i")).toDF("dk", "dname")
    val joined = unwrap(wh.joinPruned("fact", "fk", dim, "dk"))
    // two-sided: >= 1 guards against a zeroed/broken metric reading as
    // "perfect pruning" (the r11 dfp sweep rows recorded a stale 0)
    val fj = filesRead(joined)
    assert(fj >= 1L && fj <= 2L,
      s"dim hull pruning off: $fj/$total files")
    val expected = unwrap(wh.get("fact"))
      .join(dim, col("fk") === col("dk")).orderBy("fk")
      .collect().toSeq
    assert(joined.orderBy("fk").collect().toSeq == expected)
    assert(expected.size == 40)
    // the dim is broadcast (no shuffle of the 100k fact side)
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // left_semi keeps only fact columns, same pruning
    val semi = unwrap(wh.joinPruned("fact", "fk", dim, "dk", "left_semi"))
    assert(semi.columns.toSeq == Seq("fk", "fv"))
    val fsemi = filesRead(semi)
    assert(semi.count() == 40L && fsemi >= 1L && fsemi <= 2L)
    // RANDOM layout + blooms: scattered point keys prune via content
    // filters where the hull spans everything
    unwrap(wh.compact("fact", targetFiles = 20)) // unsorted rewrite
    assert(unwrap(wh.analyzeStats("fact")) == 20L)
    assert(unwrap(wh.analyzeBloom("fact", Seq("fk"))) == 20L)
    val dim3 = Seq(11L, 44444L, 99999L).map(i => (i, i)).toDF("dk", "w")
    val j3 = unwrap(wh.joinPruned("fact", "fk", dim3, "dk"))
    assert(j3.count() == 3L)
    val f3 = filesRead(j3)
    assert(f3 >= 1L && f3 <= 6L,
      s"bloom IN-list pruning off: $f3/$total")
    // over-maxKeys dim: filter skipped, join still correct
    val bigDim = (0L until 5000L).map(i => (i * 2, i)).toDF("dk", "w")
    val jBig = unwrap(wh.joinPruned("fact", "fk", bigDim, "dk",
      maxKeys = 100))
    assert(jBig.count() == 5000L)
    // outer joins are rejected loudly (the filter would drop rows)
    assert(wh.joinPruned("fact", "fk", dim, "dk", "left_outer").isLeft)
  }

  test("statsAggFast answers count/min/max from the sidecar — zero " +
    "Spark jobs when warm — and falls back to a scan when unsound") {
    val sps = spark; import sps.implicits._
    val wh = new graft.warehouse.SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-r11-fastagg").toString)
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    val data = (0L until 50000L)
      .map(i => (i, s"n${i % 321}", java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(18000 + (i % 400)))))
      .toDF("id", "name", "d")
    unwrap(wh.load("t", data.repartition(6)))
    unwrap(wh.analyzeStats("t"))
    def modelRow = unwrap(wh.get("t"))
      .agg(count(lit(1)).as("cnt"), min("id").as("min_id"),
        max("id").as("max_id"), min("name").as("min_name"),
        max("name").as("max_name"), min("d").as("min_d"),
        max("d").as("max_d")).head
    val want = modelRow
    val fastCols = Seq("id", "name", "d")
    val first = unwrap(wh.statsAggFast("t", fastCols)).head
    assert(first == want, s"metadata agg drifts: $first vs $want")
    // warm path: sidecar cached by fingerprint → zero Spark jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val warmFrame =
      try {
        val f = unwrap(wh.statsAggFast("t", fastCols))
        org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
        assert(jobs.get() == 0,
          s"warm statsAggFast planned ${jobs.get()} job(s)")
        f
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(warmFrame.head == want)
    // an UNANALYZED append → uncovered file → silent scan fallback,
    // values still exact
    unwrap(wh.load("t", Seq((999999L, "zz", java.sql.Date.valueOf(
      "2030-01-01"))).toDF("id", "name", "d")))
    val afterAppend = unwrap(wh.statsAggFast("t", Seq("id"))).head
    assert(afterAppend.getLong(0) == 50001L &&
      afterAppend.getLong(2) == 999999L)
    // re-analyze restores the metadata path incl. the new bounds
    unwrap(wh.analyzeStats("t"))
    val again = unwrap(wh.statsAggFast("t", Seq("id", "d"))).head
    assert(again.getLong(0) == 50001L && again.getLong(2) == 999999L &&
      again.getDate(4).toString == "2030-01-01")
    // merge-on-read tombstones make raw file rows an overcount: the
    // verb must fall back and return the LIVE count
    unwrap(wh.deleteWhereMor("t", col("id") < 10000L))
    val afterDv = unwrap(wh.statsAggFast("t", Seq("id"))).head
    assert(afterDv.getLong(0) == 40001L && afterDv.getLong(1) == 10000L,
      s"tombstoned rows leaked into statsAggFast: $afterDv")
  }

  test("MoR tombstones survive an apostrophe-and-space warehouse root " +
    "and a rename (rel paths are length-stripped, never spliced)") {
    val sps = spark; import sps.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft r11'root")
    val wh = new graft.warehouse.SparkWarehouse(spark, root.toString)
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    unwrap(wh.load("t", (0L until 100L).map(i => (i, i * 2)).toDF("id", "v")))
    unwrap(wh.deleteWhereMor("t", col("id") < 40L))
    assert(unwrap(wh.get("t")).count() == 60L)
    unwrap(wh.rename("t", "t2"))
    // the documented rename-survival property: tombstones keep applying
    assert(unwrap(wh.get("t2")).count() == 60L,
      "tombstones resurrected deleted rows after rename")
    assert(unwrap(wh.get("t2")).agg(min("id")).head.getLong(0) == 40L)
  }
}
