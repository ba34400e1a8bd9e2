package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** NfcNormalize edge set (round-12 verdict item 4): the expression
  * ships on the hot path before every hashing consumer, so its fast
  * paths are pinned here — ASCII identity must be the SAME UTF8String
  * reference (zero-copy contract), already-NFC multi-byte input must
  * take the isNormalized quick-check skip (also reference-identity),
  * and only genuinely decomposed input pays the rebuild. The
  * non-ASCII literals below are UTF-8 in-source with the exact
  * composed/decomposed byte sequences (verified byte-level): inputs
  * on the compute() side are decomposed (e + U+0301, i + U+0308,
  * jamo U+1100 U+1161), expectations are pre-composed. */
class FunctionsSpec extends SparkSpec {

  import graft.functions.NfcNormalize

  test("nfcq: pure-ASCII returns the same UTF8String reference (zero-copy fast path)") {
    val s = UTF8String.fromString("plain ascii text, 100% of english crawl rows")
    assert(NfcNormalize.compute(s) eq s)
  }

  test("nfcq: already-NFC multi-byte input takes the quick-check skip (same reference)") {
    val s = UTF8String.fromString("café naïve éclair") // all pre-composed
    assert(NfcNormalize.compute(s) eq s)
  }

  test("nfcq: decomposed sequences compose (UAX #15 canonical composition)") {
    assert(NfcNormalize.compute(UTF8String.fromString("é")).toString == "é")
    assert(NfcNormalize.compute(UTF8String.fromString("ï")).toString == "ï")
    // mixed: ASCII + decomposed + already-composed in one value
    val mixed = NfcNormalize.compute(UTF8String.fromString("Café doc é"))
    assert(mixed.toString == "Café doc é")
    assert(mixed.numChars == 10)
  }

  test("nfcq: Hangul jamo compose to a syllable; NFC is idempotent") {
    // U+1100 (choseong kiyeok) + U+1161 (jungseong a) -> U+AC00 (ga)
    val ga = NfcNormalize.compute(UTF8String.fromString("가"))
    assert(ga.toString == "가")
    assert(NfcNormalize.compute(ga) eq ga)
  }

  test("nfcq: compatibility characters are NOT folded (NFC, not NFKC)") {
    // U+FB01 LATIN SMALL LIGATURE FI is NFC-stable; only NFKC expands it
    val fi = UTF8String.fromString("ﬁn")
    assert(NfcNormalize.compute(fi) eq fi)
  }

  test("nfcq expression: null in, null out; non-string input rejected at analysis") {
    assert(NfcNormalize(Literal(null, StringType)).eval() == null)
    assert(!NfcNormalize(Literal(1, IntegerType)).checkInputDataTypes().isSuccess)
  }

  test("nfcq is injected by GraftExtensions (no register() call needed)") {
    // the shared test session builds with spark.sql.extensions=GraftExtensions,
    // so this would fail UNRESOLVED_ROUTINE if the descriptor weren't injected.
    // NB: Spark's chr() is mod-256 ASCII (chr(769)=U+0001, unlike DuckDB's
    // codepoint chr), so the decomposed mark is spliced in from Scala.
    val r = spark.sql(s"SELECT nfcq('Café') AS t").collect()(0).getString(0)
    assert(r == "Café")
  }

  test("nfcq: interpreted eval matches codegen over a DataFrame") {
    import spark.implicits._
    val in = Seq("éclair", "ascii only", "éclair", "ï")
    val fromCodegen = in.toDF("s").selectExpr("nfcq(s) AS n")
      .collect().map(_.getString(0)).toSeq
    val interpreted =
      in.map(v => NfcNormalize.compute(UTF8String.fromString(v)).toString)
    assert(fromCodegen == interpreted)
    assert(fromCodegen ==
      Seq("éclair", "ascii only", "éclair", "ï"))
  }
}

/** NearestCell: the native per-row centroid argmax/argmin that
  * replaced the `crossJoin + max_by/min_by` explode in the k-means
  * family (Similarity.kmeansCodebookQ/assignCellsQ, Pq.trainCodebooks/
  * encode). The declarative shape's agg buffer (array value + struct
  * ordering) is not UnsafeRow-mutable, so Spark planned a
  * SortAggregate over the N×numCells pair stream; these tests pin
  * (a) exact value parity with that reference formulation including
  * tie-breaks, (b) the null/edge contract, and (c) that the rewritten
  * plan really is sort-free. */
class NearestCellSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import graft.llm.Similarity

  /** Deterministic little corpus: 40 vectors, 8 dims, quantized longs;
    * ids 36..39 duplicate ids 0..3 so cosine ties are GUARANTEED
    * against duplicated centroids, exercising the cell_id tie-break. */
  private def corpus() = {
    import spark.implicits._
    (0 until 40).map { i =>
      val base = if (i >= 36) i - 36 else i
      (i.toLong, (1 to 8).map(j => ((base * 37 + j * 11) % 23 + 1).toDouble / 10.0))
    }.toDF("vec_id", "embedding")
  }

  test("nearest_cell_cos: identical assignment to the crossJoin+max_by reference shape") {
    val v = corpus().select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("nv"))
    // duplicated centroid content on purpose: cells 2 and 3 share cv,
    // so every vector's sim ties between them -> must pick cell 2
    val cents = v.filter(col("vec_id") < 3)
      .select(col("vec_id").as("cell_id"), col("nv").as("cv"))
      .unionByName(v.filter(col("vec_id") === 2)
        .select(lit(3L).as("cell_id"), col("nv").as("cv")))
    val viaExpr = Similarity.assignCellsQ(v, cents)
      .select("vec_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.functions.LongArrayDot.register(spark)
    val viaMaxBy = v.crossJoin(broadcast(cents))
      .withColumn("cell_sim", Similarity.cosineQ(col("nv"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell_id"), struct(col("cell_sim"), -col("cell_id"))).as("cell_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaMaxBy)
    assert(!viaExpr.values.exists(_ == 3L), "tie must break to the smaller cell_id")
    assert(viaExpr.values.toSet.contains(2L), "duplicated-cv cell 2 must win its ties")
  }

  test("nearest_cell_l2: identical PQ codes to the join+min_by reference shape") {
    import spark.implicits._
    // 64-dim (the Pq.Dim contract), ids 20..23 duplicate 0..3 so
    // subspace distances tie against duplicated init centroids
    val v = (0 until 24).map { i =>
      val base = if (i >= 20) i - 20 else i
      (i.toLong, (1 to 64).map(j => ((base * 37 + j * 11) % 23 + 1).toDouble / 10.0))
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("nv"))
    val cents = graft.llm.Pq.trainCodebooks(v, m = 8, numCells = 4, iters = 1)
    val codes = graft.llm.Pq.encode(v, cents, m = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1) /* s */, r.getLong(2)))
    // reference: explicit explode + min_by argmin with (d, cell) tie-break
    val sub = v.select(col("vec_id"), posexplode(col("nv")).as(Seq("pos", "comp")))
      .withColumn("s", (col("pos") / 8).cast("int"))
      .groupBy("vec_id", "s")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        _.getField("comp")).as("sv"))
    val ref = sub.join(broadcast(cents.withColumnRenamed("cell_id", "__c")), Seq("s"))
      .withColumn("d", aggregate(zip_with(col("sv"), col("cv"),
        (x, y) => (x - y) * (x - y)), lit(0L), _ + _))
      .groupBy("vec_id", "s")
      .agg(min_by(col("__c"), struct(col("d"), col("__c"))).as("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(codes.length == 24 * 8)
    assert(codes.sorted.toSeq == ref.sorted.toSeq)
  }

  test("nearest_cell null/edge contract: null vec, empty cells, zero-norm") {
    graft.functions.NearestCell.register(spark)
    import spark.implicits._
    val cells = "array(named_struct('cell_id', 1L, 'cv', array(1L, 2L), 'c2', 5L))"
    val r = spark.sql(
      s"SELECT nearest_cell_cos(CAST(NULL AS array<bigint>), $cells) AS a, " +
        s"nearest_cell_cos(array(1L, 1L), slice($cells, 1, 0)) AS b").head
    assert(r.isNullAt(0), "null vector -> null")
    assert(r.isNullAt(1), "empty cells array -> null")
    val zero = intercept[Exception] {
      spark.sql(s"SELECT nearest_cell_cos(array(0L, 0L), $cells)").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(zero).exists(_.getMessage != null) &&
      causes(zero).exists(c => c.getMessage != null && c.getMessage.contains("zero-norm")),
      s"zero-norm vector must fail loudly, got: $zero")
  }

  test("nearest_cell: interpreted eval matches codegen") {
    graft.functions.NearestCell.register(spark)
    val v = corpus().select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("nv"))
    val cents = v.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cell_id"), col("nv").as("cv"))
    val arr = cents.agg(sort_array(collect_list(struct(col("cell_id"), col("cv"),
      call_function("dotq", col("cv"), col("cv")).as("c2")))).as("cells"))
    val base = v.crossJoin(broadcast(arr))
    val viaCodegen = base
      .select(col("vec_id"), call_function("nearest_cell_cos", col("nv"), col("cells")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var viaInterpreted: Map[Long, Long] = Map.empty
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      viaInterpreted =
        base.select(col("vec_id"), call_function("nearest_cell_cos", col("nv"), col("cells")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(viaCodegen.nonEmpty && viaCodegen == viaInterpreted)
  }

  test("assignCellsQ plan is sort-free and window-free (the SortAggregate fix)") {
    val v = corpus().select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("nv"))
    val cents = v.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cell_id"), col("nv").as("cv"))
    val (_, plan) = finalizedPlan(Similarity.assignCellsQ(v, cents))
    assert(plan.contains("nearest_cell_cos"), plan)
    assert(!plan.contains("SortAggregate"),
      s"corpus assignment must not sort-aggregate the pair stream:\n$plan")
    assert(!plan.contains("Window"), plan)
  }
}

/** Registry contract: a [[graft.registry.Query]] carries its oracle, so
  * no query can lack one and no oracle can be orphaned; what is left to
  * check is that each name is declared once. */
class RegistryInvariantSpec extends AnyFunSuite {

  test("a name registered twice fails the registry build, naming it") {
    def q(name: String) = graft.registry.Query(name, "SELECT 1")((s, _) => s.emptyDataFrame)
    val err = intercept[IllegalArgumentException](
      graft.registry.Query.unique(Seq(q("a1"), q("z9_twice"), q("b2"), q("z9_twice"))))
    assert(err.getMessage.contains("z9_twice"), err.getMessage)
    assert(!err.getMessage.contains("a1") && !err.getMessage.contains("b2"), err.getMessage)
    // the shipped registry builds, and its name-keyed views drop nothing
    assert(SparkEntry.oracleSql.size == SparkEntry.registry.size)
  }
}
