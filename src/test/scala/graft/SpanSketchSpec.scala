package graft

import graft.llm.{Pq, Sketches, SpanDedup}
import org.apache.spark.sql.functions._

/** x19/x20 span dedup + a15 KMV sketch unit behavior on handcrafted
  * corpora (the registered queries pin the cross-engine values; these
  * pin the SEMANTICS on inputs small enough to reason about). */
class SpanSketchSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("duplicatedSpans finds cross-doc spans and merges touching islands") {
    val d = docs(
      1L -> "a b c d e f g h i j x y z", // shares tokens 1-10 with doc 2
      2L -> "a b c d e f g h i j q r s",
      3L -> "m n o p m n o p", // intra-doc repeat; adjacent spans coalesce
      4L -> "entirely unique words only here")
    val spans = SpanDedup.duplicatedSpans(d, "doc_id", "text", k = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 1/2: windows 1..7 duplicated -> one span covering tokens 1..10;
    // doc 3: window 1 == window 5, starts 4 apart (= k) touch -> 1..8;
    // doc 4: nothing
    assert(spans.toSeq === Seq((1L, 1L, 10L), (2L, 1L, 10L), (3L, 1L, 8L)))
  }

  test("spanCoverage reports zeros for clean docs and handles short docs") {
    val d = docs(
      1L -> "a b c d e f g h i j x y z",
      2L -> "a b c d e f g h i j q r s",
      4L -> "entirely unique words only here",
      5L -> "tiny doc") // < k tokens: no windows, must not crash
    val cov = SpanDedup.spanCoverage(d, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(cov.toSeq === Seq(
      (1L, 13L, 10L, 769230L, 1L), // floor(10e6/13)
      (2L, 13L, 10L, 769230L, 1L),
      (4L, 5L, 0L, 0L, 0L),
      (5L, 2L, 0L, 0L, 0L)))
  }

  test("removeDuplicatedSpans keeps the canonical copy and cuts later occurrences") {
    val d = docs(
      1L -> "a b c d e f g h i j x y z", // canonical holder (lowest doc_id)
      2L -> "a b c d e f g h i j q r s", // loses tokens 1..10
      3L -> "m n o p m n o p", // intra-doc: window@1 canonical, window@5 cut -> tokens 5..8
      4L -> "entirely unique words only here")
    val out = SpanDedup.removeDuplicatedSpans(d, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "a b c d e f g h i j x y z", 13L),
      (2L, "q r s", 3L),
      (3L, "m n o p", 4L),
      (4L, "entirely unique words only here", 5L)))
  }

  test("kmvDistinct is salt-invariant, duplicate-blind, and matches the k-th order statistic") {
    import spark.implicits._
    // 200 distinct values, each appearing 3 times
    val vals = (0 until 200).flatMap(v => Seq.fill(3)(("g", v.toLong))).toDF("grp", "v")
    val a = Sketches.kmvDistinct(vals, "grp", "v", k = 64, salts = 16).collect()
    val b = Sketches.kmvDistinct(vals, "grp", "v", k = 64, salts = 1).collect()
    assert(a.toSeq === b.toSeq, "salt fan-out must not change the sketch")
    assert(a.length === 1)
    val kth = vals.select(md5(col("v").cast("string")).as("h")).distinct()
      .orderBy("h").limit(64).collect().last.getString(0)
    assert(a.head.getAs[String]("kth_hash") === kth)
    val est = a.head.getAs[Long]("est_distinct")
    assert(est > 100L && est < 400L, s"estimate $est implausible for 200 distinct")
  }

  test("kmv k-min sets merge algebraically: union of per-half k-mins re-minned = full sketch") {
    import spark.implicits._
    val full = (0 until 300).map(v => ("g", v.toLong)).toDF("grp", "v")
    val kthFull = Sketches.kmvDistinct(full, "grp", "v", k = 64)
      .head.getAs[String]("kth_hash")
    // simulate two partitions sketched independently, then merged
    def kmins(lo: Int, hi: Int) = (lo until hi).map(v => v.toLong).toDF("v")
      .select(md5(col("v").cast("string")).as("h")).distinct()
      .orderBy("h").limit(64).collect().map(_.getString(0)).toSeq
    val merged = (kmins(0, 150) ++ kmins(150, 300)).distinct.sorted.take(64)
    assert(merged.last === kthFull,
      "merging per-partition k-min sets must reproduce the global k-th order statistic")
  }

  test("importanceWeights favors target-domain vocabulary and zeroes empty docs") {
    val d = docs(
      1L -> "alpha alpha alpha beta", // target doc
      2L -> "alpha alpha alpha gamma", // raw doc in target vocab -> high weight
      3L -> "delta delta delta delta", // raw doc off-vocab -> low weight
      4L -> "")
    val w = graft.llm.Corpus.importanceWeights(d, "doc_id", "text", col("doc_id") === 1L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val byId = w.map(t => t._1 -> t._3).toMap
    assert(byId(2L) > byId(3L), s"target-vocab doc must outweigh off-vocab doc: $w")
    assert(w.find(_._1 == 4L).get === ((4L, 0L, 0L)), "empty doc carries no evidence")
  }

  test("PQ codes are within the codebook and an exact duplicate is its twin's top neighbor") {
    import spark.implicits._
    // 64 vectors with block structure + an exact duplicate of vec 7 at id 100
    def vec(seed: Long) = (0 until 64).map(j => ((seed * 31 + j * 7) % 97).toFloat / 97f)
    val base = (0L until 64L).map(i => (i, vec(i)))
    val emb = (base :+ (100L, vec(7L))).toDF("vec_id", "embedding")
    val v = emb.select(col("vec_id"),
      graft.llm.Similarity.quantize(col("embedding")).as("nv"))
    val cents = Pq.trainCodebooks(v, m = 8, numCells = 16, iters = 2)
    val codes = Pq.encode(v, cents, m = 8).collect()
    assert(codes.length === 65 * 8, "8 codes per vector")
    assert(codes.forall(r => r.getAs[Long]("code") >= 0L && r.getAs[Long]("code") < 16L))
    // identical vectors must encode identically...
    def codesOf(id: Long) = codes.filter(_.getAs[Long]("vec_id") == id)
      .map(r => r.getAs[Int]("s") -> r.getAs[Long]("code")).toMap
    assert(codesOf(100L) === codesOf(7L), "duplicate must carry its twin's codes")
    // ...so the duplicate attains the MINIMAL possible ADC distance:
    // it must sit in the rank-1 tie set (other vectors of this modular
    // fixture legitimately share all 8 codes and tie exactly — ADC
    // cannot separate identical codes, so we assert on distance, not id)
    val top = Pq.adcTopK(emb, emb.filter(col("vec_id") === 7L), k = 5).collect()
      .sortBy(_.getAs[Int]("rank"))
    val dup = top.find(_.getAs[Long]("neighbor_id") == 100L)
    assert(dup.isDefined, s"duplicate missing from top-5: ${top.mkString(";")}")
    assert(dup.get.getAs[Long]("adc_dist") === top.head.getAs[Long]("adc_dist"),
      "duplicate must tie the minimal ADC distance")
  }

  test("IVFADC prunes to probed cells and the exact duplicate ties the minimal distance") {
    import spark.implicits._
    def vec(seed: Long) = (0 until 64).map(j => ((seed * 37 + j * 11) % 101).toFloat / 101f)
    val base = (0L until 64L).map(i => (i, vec(i)))
    val emb = (base :+ (100L, vec(7L))).toDF("vec_id", "embedding")
    val top = Pq.ivfAdcTopK(emb, emb.filter(col("vec_id") === 7L), k = 5)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(top.nonEmpty && top.length <= 5)
    assert(top.map(_.getAs[Int]("rank")).toSeq === (1 to top.length))
    // the duplicate lands in its twin's coarse cell (identical vector →
    // identical assignment), carries identical residual codes, and so
    // ties the minimal attainable ADC distance
    val dup = top.find(_.getAs[Long]("neighbor_id") == 100L)
    assert(dup.isDefined, s"duplicate missing from top-5: ${top.mkString(";")}")
    assert(dup.get.getAs[Long]("adc_dist") === top.head.getAs[Long]("adc_dist"),
      "duplicate must tie the minimal ADC distance")
    // IVF pruning is real: scoring a query against ALL vectors
    // (nProbe = numCells) can only widen, never change, the tie set's
    // minimal distance semantics — the pruned result must be a subset
    val full = Pq.ivfAdcTopK(emb, emb.filter(col("vec_id") === 7L), k = 64,
        nProbe = 16).collect()
    val fullIds = full.map(_.getAs[Long]("neighbor_id")).toSet
    assert(top.forall(r => fullIds.contains(r.getAs[Long]("neighbor_id"))))
    assert(top.length < full.length, "nProbe=2 must actually prune")
    // the persisted-index round-trip (x23b) must be value-invisible
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    try {
      Pq.buildPqIndex(emb, idx)
      val pre = Pq.ivfAdcTopKPrebuilt(spark, idx, emb.filter(col("vec_id") === 7L), k = 5,
        allowRawNorms = true)
        .collect().sortBy(_.getAs[Int]("rank"))
      assert(pre.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSeq
        === top.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSeq)
    } finally graft.streaming.Streams.deleteDir(spark, idx)
  }

  test("adaptive multi-probe keeps cells by occupancy target and converges to the full scan (x24c)") {
    import spark.implicits._
    graft.functions.LongArrayDot.register(spark)
    def vec(seed: Long) = (0 until 64).map(j => ((seed * 37 + j * 11) % 101).toFloat / 101f)
    val emb = (0L until 64L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 7L)
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_adaptive").toString
    try {
      Pq.buildPqIndex(emb, idx)
      val live = graft.io.Staging.resolveRead(spark, idx)
      // a target >= corpus probes every cell: value-identical to the
      // fixed policy at nProbe = numCells (the convergence contract)
      def keyOf(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))
      val full = Pq.ivfAdcTopKPrebuilt(spark, idx, q, k = 10, nProbe = 16,
          allowRawNorms = true)
        .collect().sortBy(_.getAs[Int]("rank")).map(keyOf).toSeq
      val adFull = Pq.ivfAdcTopKPrebuilt(spark, idx, q, k = 10,
          minCandidates = Some(1000L), allowRawNorms = true)
        .collect().sortBy(_.getAs[Int]("rank")).map(keyOf).toSeq
      assert(adFull === full, "target >= corpus must equal the full scan")
      // the kept-cell RULE, pinned against a driver-side replica over
      // the staged cell_stats: cells rank by (cosine desc, cell_id);
      // keep while the members of the cells ranked before total < 4
      val target = 4L
      val occ = spark.read.parquet(s"$live/cell_stats").collect()
        .map(r => r.getAs[Long]("cell_id") -> r.getAs[Long]("n_members")).toMap
      val coarse = spark.read.parquet(s"$live/coarse")
      val qv = graft.llm.Similarity.quantize(col("embedding"))
      val rankedCells = q.select(qv.as("qv")).crossJoin(coarse)
        .select(col("cell_id"),
          graft.llm.Similarity.cosineQ(col("qv"), col("cv")).as("sim"))
        .collect().map(r => (r.getAs[Long]("cell_id"), r.getAs[Double]("sim")))
        .sortBy { case (id, sim) => (-sim, id) }.map(_._1)
      var cum = 0L
      val keptCells = rankedCells.takeWhile { c =>
        val keep = cum < target; cum += occ.getOrElse(c, 0L); keep
      }.toSet
      val expected = spark.read.parquet(s"$live/codes")
        .filter(col("s") === 0)
        .select(col("vec_id"), col("cell_id").cast("long").as("cell_id"))
        .collect()
        .filter(r => keptCells(r.getAs[Long]("cell_id")))
        .map(_.getAs[Long]("vec_id")).toSet - 7L
      assert(cum >= target || keptCells == rankedCells.toSet,
        "the rule stops only once the target is met (or cells run out)")
      val adSmall = Pq.ivfAdcTopKPrebuilt(spark, idx, q, k = 64,
          minCandidates = Some(target), allowRawNorms = true)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      assert(adSmall === expected,
        s"adaptive candidates must be exactly the kept cells' members: " +
          s"got ${adSmall.toSeq.sorted}, want ${expected.toSeq.sorted}")
      assert(adSmall.size < 64, "a small target must actually prune")
      // an index built BEFORE cell_stats existed stays queryable: the
      // occupancy derives from the thin code table, same answer
      val statsPath = new org.apache.hadoop.fs.Path(s"$live/cell_stats")
      statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(statsPath, true)
      val adNoStats = Pq.ivfAdcTopKPrebuilt(spark, idx, q, k = 64,
          minCandidates = Some(target), allowRawNorms = true)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      assert(adNoStats === adSmall, "cell_stats fallback must be value-invisible")
    } finally graft.streaming.Streams.deleteDir(spark, idx)
  }

  test("plain-ADC persisted index round-trip is value-invisible (x22b)") {
    import spark.implicits._
    def vec(seed: Long) = (0 until 64).map(j => ((seed * 31 + j * 7) % 97).toFloat / 97f)
    val emb = ((0L until 64L).map(i => (i, vec(i))) :+ (100L, vec(7L)))
      .toDF("vec_id", "embedding")
    val fresh = Pq.adcTopK(emb, emb.filter(col("vec_id") === 7L), k = 5)
      .collect().sortBy(_.getAs[Int]("rank"))
    val idx = java.nio.file.Files.createTempDirectory("graft_adc_idx").toString
    try {
      Pq.buildAdcIndex(emb, idx)
      val pre = Pq.adcTopKPrebuilt(spark, idx, emb.filter(col("vec_id") === 7L), k = 5)
        .collect().sortBy(_.getAs[Int]("rank"))
      // the index stores the exact integer codes + centroids, so the
      // prebuilt answer must match the retrain-per-call one code-for-code
      assert(pre.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSeq
        === fresh.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSeq)
      // reader self-heal: a rebuild that died between the swap renames
      // leaves only `.old` — the prebuilt reader restores it and serves
      // the pre-crash index instead of failing until the next build
      val fsIdx = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fsIdx.rename(new org.apache.hadoop.fs.Path(idx),
        new org.apache.hadoop.fs.Path(idx + ".__swap_old")))
      val healed = Pq.adcTopKPrebuilt(spark, idx, emb.filter(col("vec_id") === 7L), k = 5)
        .collect().sortBy(_.getAs[Int]("rank"))
      assert(healed.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSeq
        === fresh.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSeq)
      // param-stamp guard: a mismatched m must fail loudly — without it
      // the LUT's subvector split partially inner-joins the stored
      // (s, code) rows and silently computes wrong ADC distances
      val e = intercept[IllegalArgumentException] {
        Pq.adcTopKPrebuilt(spark, idx, emb.filter(col("vec_id") === 7L), k = 5, m = 16)
      }
      assert(e.getMessage.contains("built with m=8"))
      // the JVM-local memo must not outlive the shared on-disk artifact:
      // simulate ANOTHER process rebuilding with a different m by
      // overwriting the stamp parquet directly (bypassing writeParams'
      // same-JVM purge) — the stamp mtime moves, so the previously
      // validated m=8 verdict is NOT reused and the drift fails loudly
      val live = graft.io.Staging.resolveRead(spark, idx)
      Seq((16, 16, 0)).toDF("m", "num_cells", "coarse_cells")
        .coalesce(1).write.mode("overwrite").parquet(s"$live/index_params")
      val e2 = intercept[IllegalArgumentException] {
        Pq.adcTopKPrebuilt(spark, idx, emb.filter(col("vec_id") === 7L), k = 5)
      }
      assert(e2.getMessage.contains("built with m=16"), e2.getMessage)
      // a stamp-less index (external / pre-stamp builder) names the
      // real remedy instead of a raw parquet path-not-found
      graft.streaming.Streams.deleteDir(spark, s"$live/index_params")
      val e3 = intercept[IllegalArgumentException] {
        Pq.adcTopKPrebuilt(spark, idx, emb.filter(col("vec_id") === 7L), k = 5)
      }
      assert(e3.getMessage.contains("no index_params stamp"), e3.getMessage)
    } finally graft.streaming.Streams.deleteDir(spark, idx)
  }

  test("kmvDistinct emits no row for a group with fewer than k distinct values") {
    import spark.implicits._
    val small = (0 until 10).map(v => ("s", v.toLong)).toDF("grp", "v")
    assert(Sketches.kmvDistinct(small, "grp", "v", k = 64).isEmpty)
  }

  test("crossDuplicatedSpans flags only corpus-known windows, boundary-exact") {
    val corpus = docs(1L -> "a b c d e f g h i j")
    val batch = docs(
      100L -> "x y a b c d e f g h i j q r", // corpus run at tokens 3..12
      101L -> "totally novel words only in this one here")
    val hashes = SpanDedup.corpusWindowHashSet(corpus, "doc_id", "text", k = 4)
    val spans = SpanDedup.crossDuplicatedSpans(batch, hashes, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // batch windows 3..9 are corpus windows; 10 ("h i j q") is not ->
    // one island, span 3..12 exactly (the last matched window covers 9..12)
    assert(spans.toSeq === Seq((100L, 3L, 12L)))
  }

  test("removeCrossDuplicatedSpans cuts exactly the corpus-known content") {
    val corpus = docs(1L -> "a b c d e f g h i j")
    val batch = docs(
      100L -> "a b c d e f g h i j",                // exact dup -> empty
      101L -> "x y a b c d e f g h i j q r",        // corpus run at 3..12
      102L -> "totally novel words only in this one here")
    val hashes = SpanDedup.corpusWindowHashSet(corpus, "doc_id", "text", k = 4)
    val got = SpanDedup.removeCrossDuplicatedSpans(batch, hashes, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq(
      (100L, "", 0L),
      (101L, "x y q r", 4L),
      (102L, "totally novel words only in this one here", 8L)))
  }

  test("exactHeavyHitters equals the direct GROUP BY under adversarial partitioning") {
    import spark.implicits._
    // Zipf-ish: 'hot' 300x, 'warm' 60x, 200 singletons, n = 560;
    // k = 9, phiDen = 10 -> threshold 56: expect exactly hot + warm.
    // The tiny k forces MG decrement rounds in every partition.
    val items = (Seq.fill(300)("hot") ++ Seq.fill(60)("warm") ++
      (0 until 200).map(i => s"u$i"))
    for (parts <- Seq(1, 3, 7)) {
      val df = items.toDF("term").repartition(parts)
      val got = Sketches.exactHeavyHitters(df, "term", phiDen = 10L, k = 9)
        .orderBy("term").as[(String, Long, Long)].collect().toSeq
      assert(got === Seq(("hot", 300L, 560L), ("warm", 60L, 560L)),
        s"parts=$parts")
    }
  }

  test("exactHeavyHitters rejects a threshold below the sketch guarantee") {
    import spark.implicits._
    val df = Seq("a", "b").toDF("term")
    intercept[IllegalArgumentException] {
      Sketches.exactHeavyHitters(df, "term", phiDen = 11L, k = 9)
    }
  }
}
