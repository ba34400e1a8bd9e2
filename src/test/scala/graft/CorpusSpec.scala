package graft

import org.apache.spark.sql.functions._

/** Edge behavior of the corpus-preparation operators (Corpus.scala) and
  * the PII redactor. Oracle parity runs through Verify/check.py; these
  * pin the boundary cases the sf fixtures don't exercise. */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("chunk: short doc is one chunk; tail always covered; overlap correct") {
    val docs = Seq(
      (1L, "a b c"),                       // 3 tokens <= size -> 1 chunk
      (2L, "a b c d e f g h i j"),         // 10 tokens, size 4 stride 3 -> 1+ceil(6/3)=3 chunks
      (3L, "a b c d e f g h i j k")        // 11 tokens -> 1+ceil(7/3)=4 chunks, tail len 2
    ).toDF("doc_id", "text")
    val got = graft.llm.Corpus.chunk(docs, "doc_id", "text", size = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 3L, "a b c"),
      (2L, 0L, 4L, "a b c d"), (2L, 1L, 4L, "d e f g"), (2L, 2L, 4L, "g h i j"),
      (3L, 0L, 4L, "a b c d"), (3L, 1L, 4L, "d e f g"), (3L, 2L, 4L, "g h i j"),
      (3L, 3L, 2L, "j k")))
    // every token index is inside at least one chunk
    assert(got.filter(_._1 == 3L).map(_._3).sum >= 11L)
  }

  test("boilerplate: sub-segment docs keep frac 0; within-doc repeats count df once") {
    val docs = Seq(
      (1L, "x"),                  // shorter than one 2-token segment
      (2L, "p q p q p q"),        // 'p q' x3 in ONE doc -> df 1, not 3
      (3L, "p q r s"),            // shares 'p q' with doc 2 -> df 2
      (4L, "p q t u")             // df('p q') = 3
    ).toDF("doc_id", "text")
    val got = graft.llm.Corpus.boilerplate(docs, "doc_id", "text",
      segLen = 2, minDf = 3L, maxFrac = 0.5)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    // 'p q' df = 3 (docs 2,3,4) -> boiler; all other segments df 1
    assert(got == Seq(
      (1L, 0L, 0L, 0.0, true),
      (2L, 3L, 3L, 1.0, false),   // all 3 instances are the boiler segment
      (3L, 2L, 1L, 0.5, true),
      (4L, 2L, 1L, 0.5, true)))
  }

  test("tfidf: corpus-unique terms outrank shared ones; k bounds per-doc rows") {
    val docs = Seq(
      (1L, "alpha alpha shared"),
      (2L, "beta shared"),
      (3L, "gamma shared")
    ).toDF("doc_id", "text")
    val got = graft.llm.Corpus.tfidfTopK(docs, "doc_id", "text", k = 1)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    // shared appears in all docs -> idf 0; unique terms win despite tf
    assert(got.map(r => (r._1, r._2)) == Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
    assert(got.head._3 == 2L && got.head._4 == 1L) // alpha: tf 2, df 1
    assert(math.abs(got.head._5 - 2 * math.log(3.0)) < 1e-6)
  }

  test("redactPii: emails and 4+ digit runs replaced, short numbers kept") {
    val got = Seq("mail a.b-c_d@ex-1.co.uk now 123 and 4567 id12345end")
      .toDF("t").select(graft.ops.Text.redactPii(col("t"))).as[String].head()
    assert(got == "mail <EMAIL> now 123 and <NUM> id<NUM>end")
  }

  test("replaceDir swap survives a crash between renames via recoverSwap") {
    val p = s"${sys.props("java.io.tmpdir")}/graft_test_swap"
    val f = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(p), true)
    f.delete(new org.apache.hadoop.fs.Path(s"$p.__swap_old"), true)
    spark.range(10).write.mode("overwrite").parquet(p)
    // simulate the crash window: old aside, new never swapped in
    assert(f.rename(new org.apache.hadoop.fs.Path(p),
      new org.apache.hadoop.fs.Path(s"$p.__swap_old")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(p)))
    graft.io.IO.recoverSwap(spark, p)
    assert(spark.read.parquet(p).count() == 10L)
    // and a subsequent replaceDir over the recovered table works
    graft.io.IO.replaceDir(spark, p) { tmp =>
      spark.range(20).write.mode("overwrite").parquet(tmp)
    }
    assert(spark.read.parquet(p).count() == 20L)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$p.__swap_old")))
  }

  test("compact rejects hidden-prefixed PARTITION dirs (__bucket=N) and recovers a crashed swap first") {
    // 1) '__bucket=N' starts with '_' but IS a partition layout (what
    // the bucketed upsert writes) — flattening it silently would mix
    // layouts; the '=' in the name must trip the guard
    val p1 = s"${sys.props("java.io.tmpdir")}/graft_test_compact_bucket"
    graft.streaming.Streams.deleteDir(spark, p1)
    spark.range(100).select(col("id"), (col("id") % 3).as("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket").parquet(p1)
    val e = intercept[IllegalArgumentException] {
      graft.io.IO.compact(spark, p1, targetBytes = 1024L)
    }
    assert(e.getMessage.contains("__bucket="), e.getMessage)
    // 2) crash between a prior swap's renames: data sits at __swap_old.
    // compact must restore it BEFORE sizing, or it sizes an empty dir
    val p2 = s"${sys.props("java.io.tmpdir")}/graft_test_compact_crash"
    val f = new org.apache.hadoop.fs.Path(p2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.streaming.Streams.deleteDir(spark, p2)
    f.delete(new org.apache.hadoop.fs.Path(s"$p2.__swap_old"), true)
    spark.range(50000).select(col("id"), concat(lit("p"), col("id")).as("pay"))
      .repartition(10).write.mode("overwrite").parquet(p2)
    assert(f.rename(new org.apache.hadoop.fs.Path(p2),
      new org.apache.hadoop.fs.Path(s"$p2.__swap_old")))
    val (before, after) = graft.io.IO.compact(spark, p2, targetBytes = 256 * 1024L)
    assert(before == 10, s"recovery must happen before sizing; saw before=$before")
    assert(after >= 1 && after < 10)
    assert(spark.read.parquet(p2).count() == 50000L)
  }

  test("bucketed upsert rejects NULL merge keys with a named error") {
    val p = s"${sys.props("java.io.tmpdir")}/graft_test_st12_null"
    graft.streaming.Streams.deleteDir(spark, p)
    val bad = Seq((Some(1L), 1L, "a"), (None, 2L, "b"))
      .toDF("user_id", "ver", "payload")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.upsertBucketedBatch(spark, p, bad,
        Seq("user_id"), Seq("ver"), nBuckets = 4)
    }
    assert(e.getMessage.contains("user_id"), e.getMessage)
  }

  test("compact ignores hidden/system subdirectories in the flat-dir guard") {
    val p = s"${sys.props("java.io.tmpdir")}/graft_test_k11_hidden"
    graft.streaming.Streams.deleteDir(spark, p)
    spark.range(1000).repartition(5).write.mode("overwrite").parquet(p)
    // leftover from a killed write job — must not read as a partition dir
    val f = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$p/_temporary"))
    val (before, after) = graft.io.IO.compact(spark, p, targetBytes = 64 * 1024 * 1024L)
    assert(before == 5 && after == 1, s"$before -> $after")
  }

  test("Merge.upsert: updates win regardless of version; one hash exchange") {
    val base = Seq((1L, "old", 10L), (2L, "keep", 20L)).toDF("k", "v", "ver")
    val upd = Seq((1L, "newer-but-older-ver", 5L), (3L, "insert", 1L),
      (3L, "insert-v2", 2L)).toDF("k", "v", "ver")
    val got = graft.ops.Merge.upsert(base, upd, Seq("k"), Seq(col("ver")))
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    // update replaces base even with a LOWER version (last-writer-wins);
    // within updates the higher version survives
    assert(got == Seq((1L, "newer-but-older-ver", 5L), (2L, "keep", 20L),
      (3L, "insert-v2", 2L)))
    val plan = graft.ops.Merge.upsert(base, upd, Seq("k"), Seq(col("ver")))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("massBalancedShards clamps NULL and negative masses to 0, never a NULL shard") {
    import spark.implicits._
    // a NULL mass would flow through the prefix-sum bucket arithmetic
    // and yield NULL shard ids (round-11 advice); negatives would walk
    // the cumulative sum backwards and could double-assign a shard
    val rows = Seq((1L, Option(10L)), (2L, None), (3L, Option(-5L)),
      (4L, Option(10L)), (5L, Option(10L)))
      .toDF("doc_id", "mass")
    val out = graft.llm.Corpus.massBalancedShards(rows, "doc_id", "mass", nShards = 2)
      .collect()
    assert(out.length == 5)
    assert(out.forall(!_.isNullAt(out.head.fieldIndex("shard_id"))),
      s"NULL shard id leaked: ${out.mkString(";")}")
    val byId = out.map(r => r.getLong(0) -> r.getLong(r.fieldIndex("n_tokens"))).toMap
    assert(byId(2L) == 0L && byId(3L) == 0L, s"clamp failed: $byId")
    val shards = out.map(_.getLong(out.head.fieldIndex("shard_id"))).toSet
    assert(shards.subsetOf(Set(0L, 1L)), s"shard out of range: $shards")
  }

  test("tokenBalancedShards: budget-tight shards, all used, never a global window") {
    // heavy-tailed lengths — the case count-balanced sharding gets
    // wrong: a few docs carry most of the token mass
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("tok "),
        // doc 0 mod 97 is ~100 tokens, the rest 2-9
        when(col("id") % 97 === 0,
          concat_ws(" ", (0 until 100).map(i => lit(s"w$i")): _*))
          .otherwise(concat_ws(" ",
            lit("a b"), lit("c d e f g h i").substr(lit(1), (col("id") % 8 * 2).cast("int")))))
        .as("text"))
    val n = 6
    val out = graft.llm.Corpus.tokenBalancedShards(docs, "doc_id", "text", n)
      .persist()
    val sums = out.groupBy("shard_id").agg(sum("n_tokens").as("toks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = sums.values.sum
    val budget = (total + n - 1) / n
    val maxDoc = out.agg(max("n_tokens")).first().getLong(0)
    // every shard id in [0, n) used, and contiguous-cut tightness:
    // a shard closes within one document of its budget
    assert(sums.keySet == (0L until n.toLong).toSet, sums)
    sums.foreach { case (sid, t) =>
      assert(t <= budget + maxDoc, s"shard $sid overfull: $t > $budget + $maxDoc")
    }
    // deterministic: a second independent run assigns identically
    val again = graft.llm.Corpus.tokenBalancedShards(docs, "doc_id", "text", n)
    assert(out.select("doc_id", "shard_id").exceptAll(
      again.select("doc_id", "shard_id")).isEmpty)
    // scale shape: the prefix sum is the two-pass cumsum — range
    // exchange only, never an unpartitioned window (one task) and
    // never a SinglePartition exchange of doc rows
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"global window leaked in:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"), plan)
    out.unpersist()
    spark.catalog.clearCache()
  }

  test("corpus operators never funnel the corpus into one partition") {
    // windows are keyed per doc / per group and totals arrive as
    // broadcast 1-row aggregates — a SinglePartition exchange anywhere
    // except a final scalar agg would be the 100x scale-killer
    val docs = spark.range(1000).select(col("id").as("doc_id"),
      concat(lit("w"), (col("id") % 7).cast("string"), lit(" x y z")).as("text"),
      (col("id") % 3).cast("string").as("lang"))
    // tfidf/unigram carry ONE legal SinglePartition: the 1-row corpus
    // total that feeds a broadcast. Everything else must have none —
    // doc-level rows never pass through a single partition.
    for (
      (name, maxSingle, df) <- Seq[(String, Int, org.apache.spark.sql.DataFrame)](
        ("tfidf", 1, graft.llm.Corpus.tfidfTopK(docs, "doc_id", "text", 5)),
        ("unigram", 1, graft.llm.Corpus.unigramLogProb(docs, "doc_id", "text")),
        ("boilerplate", 0, graft.llm.Corpus.boilerplate(docs, "doc_id", "text", 2, 3L, 0.5)),
        ("packing", 0, graft.llm.Corpus.packSequences(docs, "doc_id", "text", "lang", 512)),
        ("chunk", 0, graft.llm.Corpus.chunk(docs, "doc_id", "text", 4, 3)))
    ) {
      val plan = df.queryExecution.executedPlan.toString
      val single = "Exchange SinglePartition".r.findAllIn(plan).length
      assert(single <= maxSingle,
        s"$name has $single SinglePartition exchanges (max $maxSingle):\n$plan")
    }
    spark.catalog.clearCache()
  }

  test("K13 clustered write: per-file key ranges are disjoint (min-max prunable)") {
    val p = s"${sys.props("java.io.tmpdir")}/graft_test_k13"
    graft.streaming.Streams.deleteDir(spark, p)
    val df = spark.range(100000).select(
      (col("id") * 7919 % 1000).as("k"), col("id").as("payload"))
    val n = graft.io.IO.writeClustered(df, p, nFiles = 8, col("k"))
    assert(n == 8, s"expected 8 clustered files, got $n")
    // per-file [min, max] of the cluster key must not overlap
    val ranges = spark.read.parquet(p)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      .orderBy("lo")
      .as[(String, Long, Long)].collect()
    assert(ranges.length == 8)
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._2, s"overlapping file ranges: $a vs $b")
    }
    // and the content survives the clustered rewrite
    assert(spark.read.parquet(p).count() == 100000L)
  }

  test("K14 z-order write: SECOND dimension's per-file span shrinks; 1-D cluster smears it") {
    import graft.io.IO
    // uniform 256x256 grid, one point per (x, y) cell
    val grid = spark.range(65536).select(
      (col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))
    def spans(path: String): Array[(Long, Long)] = spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg((max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"))
      .select("xs", "ys").as[(Long, Long)].collect()
    // zValue sanity: interleave(3, 5) = x bits at even, y at odd = 39
    val z = grid.sparkSession.range(1)
      .select(IO.zValue(lit(3L), lit(5L), bits = 8)).as[Long].head()
    assert(z == 39L, s"zValue(3,5) = $z, want 39")
    val pz = s"${sys.props("java.io.tmpdir")}/graft_test_k14_z"
    val p1 = s"${sys.props("java.io.tmpdir")}/graft_test_k14_lin"
    graft.streaming.Streams.deleteDir(spark, pz)
    graft.streaming.Streams.deleteDir(spark, p1)
    assert(IO.writeZOrdered(grid, pz, nFiles = 8, col("x"), col("y"), bits = 8) == 8)
    IO.writeClustered(grid, p1, nFiles = 8, col("x"))
    // 8 z-contiguous files fix the top ~3 z bits: a file's y-span is
    // bounded at ~domain/4 (≤ domain/2 when it straddles a block
    // boundary); the x-sorted write leaves y unconstrained per file
    val zs = spans(pz)
    val ls = spans(p1)
    assert(zs.forall(_._2 <= 128L),
      s"z-order y-spans not bounded: ${zs.mkString(",")}")
    assert(ls.exists(_._2 >= 250L),
      s"1-D cluster should smear y across files: ${ls.mkString(",")}")
    // both preserve content
    assert(spark.read.parquet(pz).count() == 65536L)
  }

  test("O8 global top-k plans as TakeOrdered, never a global sort exchange") {
    val df = spark.range(100000).select(col("id").as("event_id"),
      (col("id") * 37 % 1000).as("value"))
      .orderBy(col("value").desc, col("event_id").asc).limit(100)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global top-k must not range-shuffle the corpus:\n$plan")
  }

  test("X14 incremental dedup: batch broadcasts, corpus bands never hash-shuffle") {
    val mk = (n: Int, off: Long) => spark.range(n)
      .select((col("id") + off).as("doc_id"),
        concat(lit("alpha beta gamma delta epsilon zeta eta theta w"),
          col("id").cast("string")).as("text"))
    val base = mk(200, 0L)
    val batch = mk(20, 10000L)
    val df = graft.llm.DedupLsh.crossNearDupPairs(batch, base, "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the band join must not re-shuffle either side by the band key —
    // broadcast is the whole point of the incremental mode. (Range
    // fixtures carry RangePartitioning, so even the post-verify pair
    // dedup plans exchange-free here.)
    assert(!plan.contains("Exchange hashpartitioning"), plan)

    // a REAL corpus arrives with unknown partitioning (parquet), so
    // the pair dedup does exchange — that exchange must be THIN: the
    // shingle arrays stay map-side, only (id_new, id_base, jaccard)
    // survivors ride it (verify-then-dedup; a dedup-before-verify
    // would ship every candidate's arrays)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val dfU = graft.llm.DedupLsh.crossNearDupPairs(
        batch.repartition(3), base.repartition(3), "doc_id", "text")
      val hashEx = dfU.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("id_") => e
      }
      assert(hashEx.nonEmpty, "expected a pair-dedup exchange on unknown partitioning")
      hashEx.foreach { e =>
        assert(!e.output.exists(_.name.startsWith("sh")),
          s"shingle payload rides exchange: ${e.output.map(_.name)}")
      }
    }
  }

  test("X14b staged bands: value-identical to the direct sweep; corpus side is a scan, not a recompute") {
    val mk = (n: Int, off: Long) => spark.range(n)
      .select((col("id") + off).as("doc_id"),
        concat(lit("alpha beta gamma delta epsilon zeta eta theta w"),
          col("id").cast("string")).as("text"))
    val base = mk(200, 0L)
    // whitespace-doubled clones: new bytes, identical \s+ shingle set,
    // so every clone hits all bands and verifies at jaccard 1.0 —
    // deterministic recall, same trick as the E5 composition spec
    val batch = mk(20, 10000L)
      .withColumn("text", regexp_replace(col("text"), " ", "  "))
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_x14b_bands"
    graft.streaming.Streams.deleteDir(spark, dir)
    graft.llm.DedupLsh.corpusBandSignatures(base, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val sigs = spark.read.parquet(dir)
    val staged = graft.llm.DedupLsh
      .crossNearDupPairsStaged(batch, sigs, "doc_id", "text")
      .orderBy("id_new", "id_base")
    val direct = graft.llm.DedupLsh
      .crossNearDupPairs(batch, base, "doc_id", "text")
      .orderBy("id_new", "id_base")
    val got = staged.collect().toSeq
    assert(got.nonEmpty && got == direct.collect().toSeq)
    val plan = staged.queryExecution.executedPlan.toString
    // batch broadcasts; the corpus side is the parquet artifact scan +
    // map-side explode — no corpus tokenization/md5 sweep in the plan
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.toLowerCase.contains("parquet"), plan)
    // the parquet corpus arrives with unknown partitioning, so the
    // pair dedup exchanges — but THIN: shingle arrays never ride it
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    staged.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }.foreach { e =>
      assert(!e.output.exists(_.name.startsWith("sh")),
        s"shingle payload rides exchange: ${e.output.map(_.name)}")
    }
    // sweeping with drifted parameters fails loudly (stamped-parameter
    // check) instead of silently matching zero band keys
    val err = intercept[IllegalArgumentException] {
      graft.llm.DedupLsh.crossNearDupPairsStaged(batch, sigs, "doc_id", "text",
        numBands = 2)
    }
    assert(err.getMessage.contains("rebuild the artifact"), err.getMessage)
  }

  test("X27 incremental semantic dedup: batch broadcasts, corpus buckets never hash-shuffle") {
    // deterministic pseudo-random 64-dim vectors; batch = byte-identical
    // clones of the first 20 base vectors (cosine exactly 1.0, every
    // sign bucket shared — recall is deterministic, no LSH gamble)
    val mk = (n: Int, off: Long) => spark.range(n)
      .select((col("id") + off).as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          j => (((col("id") + off) * 31 + j * 17) % 101 - 50).cast("double"))
          .as("embedding"))
    val base = mk(200, 0L)
    val batch = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val df = graft.llm.Similarity.crossEmbeddingNearDupPairs(batch, base, threshold = 0.99)
    val got = df.orderBy("id_new", "id_base").collect()
    assert(got.length >= 20, s"every clone must hit its base: ${got.length}")
    // identical vectors verify at cosine ≈ 1.0 (not exactly: the norm
    // product is sqrt(d)·sqrt(d), which can round below d) — assert
    // pair membership, not float identity
    assert(got.count(r => r.getLong(1) == r.getLong(0) - 10000L &&
      math.abs(r.getDouble(2) - 1.0) < 1e-12) == 20)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the bucket join must not re-shuffle either side by the bucket
    // key — broadcast is the whole point of the incremental mode.
    // (Range fixtures carry RangePartitioning, so even the post-verify
    // pair dedup plans exchange-free here, as in the X14 twin.)
    assert(!plan.contains("Exchange hashpartitioning"), plan)

    // a REAL corpus arrives with unknown partitioning (parquet), so the
    // pair dedup does exchange — that exchange must be THIN: the
    // quantized vectors stay map-side, only (id_new, id_base, cosine)
    // survivors ride it (verify-then-dedup)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val dfU = graft.llm.Similarity.crossEmbeddingNearDupPairs(
        batch.repartition(3), base.repartition(3), threshold = 0.99)
      val hashEx = dfU.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("id_") => e
      }
      assert(hashEx.nonEmpty, "expected a pair-dedup exchange on unknown partitioning")
      hashEx.foreach { e =>
        assert(!e.output.exists(_.name.startsWith("nv")),
          s"vector payload rides exchange: ${e.output.map(_.name)}")
      }
    }
  }

  test("X27b staged sign-buckets: value-identical to the direct sweep; corpus side is a scan, not a recompute") {
    val mk = (n: Int, off: Long) => spark.range(n)
      .select((col("id") + off).as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          j => (((col("id") + off) * 31 + j * 17) % 101 - 50).cast("double"))
          .as("embedding"))
    val base = mk(200, 0L)
    val batch = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_x27b_buckets"
    graft.streaming.Streams.deleteDir(spark, dir)
    graft.llm.Similarity.corpusSignBuckets(base)
      .write.mode("overwrite").parquet(dir)
    val sigs = spark.read.parquet(dir)
    val staged = graft.llm.Similarity
      .crossEmbeddingNearDupPairsStaged(batch, sigs, threshold = 0.99)
      .orderBy("id_new", "id_base")
    val direct = graft.llm.Similarity
      .crossEmbeddingNearDupPairs(batch, base, threshold = 0.99)
      .orderBy("id_new", "id_base")
    val got = staged.collect().toSeq
    assert(got.nonEmpty && got == direct.collect().toSeq)
    val plan = staged.queryExecution.executedPlan.toString
    // batch broadcasts; the corpus side is the parquet artifact scan +
    // map-side explode — no corpus quantize/plane-projection in the plan
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.toLowerCase.contains("parquet"), plan)
    // the corpus's stored nv feeds the verify but must never be
    // re-derived: the artifact scan reads the PRECOMPUTED nv + buckets
    // columns (a re-quantizing plan would scan a raw embedding column
    // instead)
    assert(plan.contains("nv:array<bigint>") && plan.contains("buckets:array<string>"),
      s"corpus side must scan staged nv+buckets:\n$plan")
    // sweeping with drifted parameters fails loudly (stamped-parameter
    // check) instead of silently matching zero buckets
    val err = intercept[IllegalArgumentException] {
      graft.llm.Similarity.crossEmbeddingNearDupPairsStaged(batch, sigs,
        threshold = 0.99, numPlanes = 8)
    }
    assert(err.getMessage.contains("rebuild the artifact"), err.getMessage)
  }

  test("X17b staged semantic cells: value-identical to direct SemDeDup; serving never retrains") {
    val corpus = spark.range(60)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          // id%7 collapses the corpus into 7 duplicate families, so
          // the 0.99-cosine drop rule genuinely fires within cells.
          // The 1e-4 rescale keeps amplitudes (≤0.13) inside the
          // quantize overflow contract (≈95 at dim 64) — cosine is
          // scale-invariant so the family/drop behavior is unchanged
          j => (((col("id") % 7) * 31 + j * 17) / lit(10000.0)).as("x"))
          .as("embedding"))
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_x17b_cells"
    graft.streaming.Streams.deleteDir(spark, dir)
    graft.llm.Similarity.stageSemanticCells(corpus, dir, numCells = Some(4), iters = 2)
    val staged = graft.llm.Similarity.semanticDedupStaged(spark, dir, threshold = 0.99)
      .orderBy("vec_id")
    val direct = graft.llm.Similarity
      .semanticDedup(corpus, numCells = Some(4), iters = 2, threshold = 0.99)
      .orderBy("vec_id")
    val got = staged.collect().toSeq
    assert(got.nonEmpty && got == direct.collect().toSeq)
    // duplicates were actually dropped (the fixture guarantees hits)
    assert(got.size < 60, s"expected drops, kept all ${got.size}")
    val plan = staged.queryExecution.executedPlan.toString
    // serving scans the artifact's PRECOMPUTED (cell_id, nv): no
    // k-means pass — a retraining plan would carry the broadcast
    // nested-loop cross join of corpus × centroids and an argmax agg
    assert(plan.toLowerCase.contains("parquet"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"serving must not retrain/assign (cross-join found):\n$plan")
    assert(plan.contains("nv:array<bigint>"),
      s"serving must read the staged nv, not re-quantize embeddings:\n$plan")
  }

  test("E5 composition: exact+near dedup stages keep history and corpus off every exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // the e5 pipeline's first two stages composed exactly as the
    // registry query builds them: bloom anti-join vs history, then
    // the broadcast cross-band sweep vs the corpus. The 100 TB
    // property: no shuffle anywhere in the composition carries
    // document text or shingle arrays — history filters map-side
    // (bloom), corpus bands stream map-side (broadcast batch).
    // Checked AQE-OFF (deterministic planner output) AND AQE-ON
    // finalized (the production default — adaptive re-planning must
    // not trade the broadcast for a corpus-wide shuffle).
    def mkSurvivors() = {
      val mk = (n: Int, off: Long) => spark.range(n)
        .select((col("id") + off).as("doc_id"),
          concat(lit("alpha beta gamma delta epsilon zeta eta theta w"),
            col("id").cast("string")).as("text"))
      val corpus = mk(200, 0L)
      // near-clones, not byte-clones: they must PASS the digest stage
      // (new digests) and be caught by the band sweep (stage 2).
      // Whitespace-only variation makes that DETERMINISTIC: the md5
      // digest changes but \s+ tokenization yields the identical
      // shingle set, so the minhash signature matches in EVERY band
      // and the verify jaccard is exactly 1.0 — no probabilistic
      // recall in the assertion (appending a token gives jaccard 7/8,
      // which deterministically misses all 4 bands for some ids)
      val batch = mk(30, 10000L)
        .withColumn("text", regexp_replace(col("text"), " ", "  "))
        .withColumn("digest", md5(col("text")))
      val history = corpus.select(md5(col("text")).as("digest"))
      val exactNew = graft.llm.BloomDedup.antiJoinBloom(batch, history, "digest",
        expectedItems = 64, fpp = 0.01)
      val hits = graft.llm.DedupLsh.crossNearDupPairs(exactNew, corpus, "doc_id", "text")
      exactNew.join(hits.select(col("id_new").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    }
    // allPhysicalNodes (SparkSpec) descends through AQE wrappers, leaf
    // query stages, AND subquery plans — the bloom build aggregate
    // lives in a subquery of the might_contain filter, invisible to a
    // plain plan collect()
    def assertShape(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), s"bloom prefilter missing:\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"band join must broadcast the batch:\n$plan")
      val fat = allPhysicalNodes(df.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeLike if e.output.exists(a =>
          a.name == "text" || a.name.startsWith("sh")) => e
      }
      assert(fat.isEmpty,
        s"history/corpus payload rides an exchange: ${fat.map(_.output.map(_.name))}")
    }
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val survivors = mkSurvivors()
      assertShape(survivors)
      // and the composition is semantically right: every batch doc is
      // a near-dup of its corpus original here, so nothing survives
      assert(survivors.count() == 0L)
    }
    withSQLConf("spark.sql.adaptive.enabled" -> "true") {
      val survivors = mkSurvivors()
      val (rows, _) = finalizedPlan(survivors)
      assert(rows.isEmpty)
      assertShape(survivors)
    }
  }

  test("bucketed upsert: untouched buckets survive; batch replay is a no-op") {
    val p = s"${sys.props("java.io.tmpdir")}/graft_test_st12"
    graft.streaming.Streams.deleteDir(spark, p)
    def batch(rows: (Long, Long, String)*) =
      rows.toSeq.toDF("user_id", "ver", "payload")
    def run(b: org.apache.spark.sql.DataFrame) =
      graft.streaming.Streams.upsertBucketedBatch(spark, p, b,
        Seq("user_id"), Seq("ver"), nBuckets = 4)
    def table() = spark.read.parquet(p)
      .select("user_id", "ver", "payload")
      .orderBy("user_id").as[(Long, Long, String)].collect().toSeq
    // batch 1 touches buckets 0..3; batch 2 touches ONLY bucket 1 (user 5)
    run(batch((0L, 1L, "a"), (1L, 1L, "b"), (2L, 1L, "c"), (3L, 1L, "d")))
    run(batch((5L, 2L, "e"), (1L, 2L, "b2")))
    val expected = Seq((0L, 1L, "a"), (1L, 2L, "b2"), (2L, 1L, "c"),
      (3L, 1L, "d"), (5L, 2L, "e"))
    assert(table() == expected)
    // crash-recovery model: replaying the last batch must not change
    // the table (keepLatest of already-merged rows is identity)
    run(batch((5L, 2L, "e"), (1L, 2L, "b2")))
    assert(table() == expected)
    // an OLDER replayed version must not clobber either
    run(batch((1L, 1L, "b")))
    assert(table() == expected)
    // an EMPTY micro-batch (an empty JSON file in the stream) is a
    // no-op, not a zero-partition dynamic overwrite: no write job runs,
    // so every file (incl. mtimes) is untouched
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing() = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      b.result().sortBy(_._1)
    }
    val before = listing()
    run(batch())
    assert(listing() == before)
    assert(table() == expected)
    // and against a table that does not exist yet, it must not even
    // create the directory
    val p2 = s"${sys.props("java.io.tmpdir")}/graft_test_st12_empty"
    graft.streaming.Streams.deleteDir(spark, p2)
    graft.streaming.Streams.upsertBucketedBatch(spark, p2, batch(),
      Seq("user_id"), Seq("ver"), nBuckets = 4)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p2)))
  }

  test("Merge.keepLatest: version order wins over arrival order (associative)") {
    val b1 = Seq((1L, "v2", 2L), (2L, "a", 1L)).toDF("k", "v", "ver")
    val b2 = Seq((1L, "v1-late", 1L), (2L, "b", 3L)).toDF("k", "v", "ver")
    def m(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      graft.ops.Merge.keepLatest(x, y, Seq("k"), Seq(col("ver")))
        .orderBy("k").as[(Long, String, Long)].collect().toSeq
    val expected = Seq((1L, "v2", 2L), (2L, "b", 3L))
    // the late-arriving LOWER version does not clobber; and either
    // batch order yields the same end state
    assert(m(b1, b2) == expected)
    assert(m(b2, b1) == expected)
  }

  test("bigramLogProb: MLE conditionals in micro-nats; short docs score zero") {
    // corpus bigrams: doc1 "a b", doc2 "a c" ⇒ count(a b)=count(a c)=1,
    // count(a ·)=2 ⇒ each scores floor(ln(0.5)·1e6) = -693148.
    // doc3 has one token (no bigram), doc4 repeats "x y" twice within
    // one doc (tf=2, P=1 ⇒ 0 micro-nats each)
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "solo"),
      (4L, "x y x y")).toDF("doc_id", "text")
    val got = graft.llm.Corpus.bigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // doc4 bigrams: "x y"(tf 2), "y x"(tf 1) — count(x ·)=2 all "x y",
    // count(y ·)=1 ⇒ ln(1)=0 for both vocab entries
    assert(got == Seq((1L, 1L, -693148L), (2L, 1L, -693148L),
      (3L, 0L, 0L), (4L, 3L, 0L)))
  }

  test("inferenceBatches: equal-length batches, capped at batchSize, deterministic") {
    val docs = ((0 until 10).map(i => (i.toLong, ("w " * 5).trim)) ++
      (10 until 13).map(i => (i.toLong, "a b c"))).toDF("doc_id", "text")
    val out = graft.llm.Inference.inferenceBatches(docs, "doc_id", "text", batchSize = 4)
    val rows = out.as[(Long, Long, Long)].collect().toSeq
    // every batch holds rows of ONE token count and at most batchSize
    val sizes = rows.groupBy(r => (r._2, r._3)).view.mapValues(_.size).toMap
    assert(sizes.values.forall(_ <= 4))
    // 10 five-token docs → batches of 4,4,2; 3 three-token docs → one batch
    assert(sizes((5L, 0L)) == 4 && sizes((5L, 1L)) == 4 && sizes((5L, 2L)) == 2)
    assert(sizes((3L, 0L)) == 3)
    // pure row-property assignment: re-run is identical
    assert(out.as[(Long, Long, Long)].collect().toSeq.sorted == rows.sorted)
  }

  test("gopherRules: milli-ratios and the composite keep bit on handcrafted docs") {
    val docs = Seq(
      (1L, "the cat sat on the mat with a hat"), // mean word len 2777 < 3000
      (2L, "# # # # #"),                         // all symbol-words
      (3L, "these wonderful documents contain the finest vocabulary with excellent words")
    ).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.gopherRules(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    // (doc_id, n_words, stop_hits, mean_len_milli, alpha_milli, symbol_milli, kept)
    assert(got(0) === ((1L, 9L, 5L, 2777L, 1000L, 0L, false)))
    assert(got(1) === ((2L, 5L, 0L, 1000L, 0L, 1000L, false)))
    assert(got(2) === ((3L, 10L, 2L, 6700L, 1000L, 0L, true)))
  }

  test("unigramDrift: zero on identical snapshots, positive where vocabulary shifts") {
    val base = Seq(
      (1L, "en", "alpha beta gamma alpha"),
      (2L, "en", "alpha beta delta"),
      (3L, "de", "eins zwei drei")
    ).toDF("doc_id", "lang", "text")
    val z = graft.llm.Corpus.unigramDrift(base, base, "text", "lang")
      .orderBy("lang").as[(String, Long, Long, Long)].collect().toSeq
    assert(z.map(_._4) === Seq(0L, 0L), s"identical snapshots must have zero KL: $z")
    // en gains a flood of novel spam tokens; de unchanged
    val newer = base.unionByName(Seq(
      (10L, "en", "spam spam spam spam spam spam spam spam")
    ).toDF("doc_id", "lang", "text"))
    val d = graft.llm.Corpus.unigramDrift(base, newer, "text", "lang")
      .orderBy("lang").as[(String, Long, Long, Long)].collect().toSeq
    val byLang = d.map(r => r._1 -> r._4).toMap
    assert(byLang("de") == 0L, "untouched language must not drift")
    assert(byLang("en") > 0L, "vocabulary flood must register positive KL")
  }

  test("naiveBayes keeps a seed class whose docs have zero in-vocabulary tokens") {
    // Z's three seeds are punctuation-only: Z trains NO term counts but
    // must still compete with prior ln(3/4) + smoothed 1/(0+V)
    // likelihoods (an inner class-list join silently drops it and
    // diverges from the oracle). V = {cat, dog}, n_A = 3:
    // per-token advantage of A on 'cat' = ln(3/5) - ln(1/2) = 182322u,
    // prior gap = ln(3/4) - ln(1/4) = 1098612u -> Z wins below 7
    // 'cat's, A wins from 7 up.
    val docs = Seq(
      (1L, "...", "Z"), (2L, "???", "Z"), (3L, "!!!", "Z"),
      (4L, "cat cat dog", "A"),
      (5L, "", null),                    // prior-only -> max-prior Z
      (6L, "cat cat cat", null),         // 3 tokens -> Z
      (7L, "cat cat cat cat cat cat cat cat", null) // 8 tokens -> A
    ).toDF("doc_id", "text", "lbl")
    val got = graft.llm.Classifier.naiveBayes(docs, "doc_id", "text", col("lbl"))
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(got(5L) == "Z" && got(6L) == "Z" && got(7L) == "A", got.toString)
  }

  test("perplexityBuckets: exact tertile cuts, tie cohesion, null -> tail") {
    val scored = Seq(
      ("X", Some(1L)), ("X", Some(2L)), ("X", Some(3L)),
      ("X", Some(4L)), ("X", Some(5L)), ("X", Some(6L)),
      ("X", None), // no LM evidence -> tail
      ("Y", Some(7L)), ("Y", Some(7L)), ("Y", Some(7L)), // all tied
      ("Z", None) // whole lang without evidence -> tail, no cuts row
    ).map { case (l, p) => (l, p.map(Long.box).orNull) }
      .toDF("lang", "ppl")
      .select(col("lang"), col("ppl").cast("long").as("ppl"))
    val got = graft.llm.Corpus.perplexityBuckets(scored, "lang", "ppl")
      .groupBy("lang", "bucket").count()
      .as[(String, String, Long)].collect().toSet
    // X: cuts c1=2 (cum 2 >= ceil(6/3)), c2=4 -> 2/2/2 + the null in tail;
    // Y: value ties land TOGETHER (cutoff semantics): all head
    assert(got === Set(
      ("X", "head", 2L), ("X", "middle", 2L), ("X", "tail", 3L),
      ("Y", "head", 3L), ("Z", "tail", 1L)))
  }

  test("bpeMerges learns the hand-computed merge sequence with greedy overlap semantics") {
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val got = graft.llm.Corpus.bpeMerges(docs, "doc_id", "text", numMerges = 3)
      .orderBy("rank").as[(Int, String, Long)].collect().toSeq
    // aaab x2, ab x1. Round 1: (_a _a) = 2 positions x freq 2 = 4
    // (overlapping positions both count; the merge is then greedy
    // non-overlapping: aaab -> [_aa, _a, _b]). Round 2: (_a _b) = 3.
    // Round 3: (_aa _ab) = 2.
    assert(got === Seq((1, "_a _a", 4L), (2, "_a _b", 3L), (3, "_aa _ab", 2L)))
    // a 4th merge has no pairs left -> loud failure, not silence
    intercept[IllegalArgumentException] {
      graft.llm.Corpus.bpeMerges(docs, "doc_id", "text", numMerges = 5)
    }
  }

  test("bpeMerges: a pair must not match where its right symbol prefixes a longer symbol") {
    // ba x5, cb x4, cba x3. Round 1 merges (_b,_a) -> cba becomes
    // [_c,_ba]. Round 2's best (_c,_b) (from cb only, cnt 4) must NOT
    // match inside '_c _ba' (an un-delimited replace does, corrupting
    // cba to the bogus single symbol _cba and killing round 3).
    val docs = Seq((1L,
      "ba ba ba ba ba cb cb cb cb cba cba cba")).toDF("doc_id", "text")
    val got = graft.llm.Corpus.bpeMerges(docs, "doc_id", "text", numMerges = 3)
      .orderBy("rank").as[(Int, String, Long)].collect().toSeq
    assert(got === Seq((1, "_b _a", 8L), (2, "_c _b", 4L), (3, "_c _ba", 3L)))
  }

  test("bpeEncode applies merges greedily per word and preserves token order") {
    val docs = Seq(
      (1L, "aaab aaab ab"),
      (2L, ""),            // token-free doc keeps a row: (0, 0, '')
      (3L, "ba aaab")      // 'ba' is untouched by either merge
    ).toDF("doc_id", "text")
    // the merge table from the hand-computed training spec above
    val merges = Seq("_a _a", "_a _b")
    val got = graft.llm.Corpus.bpeEncode(docs, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    // aaab: _a _a _a _b -> greedy m1 -> _aa _a _b -> m2 -> _aa _ab
    assert(got === Seq(
      (1L, 3L, 5L, "_aa _ab _aa _ab _ab"),
      (2L, 0L, 0L, ""),
      (3L, 2L, 4L, "_b _a _aa _ab")))
  }

  test("applyMergesChunked: chunked barriers are value-invisible vs the single projection") {
    // 5 merges applied at chunkSize 2 -> 3 chunks with two interior
    // localCheckpoint barriers; the rewrite must equal the un-chunked
    // single-expression path word for word (the y28 scale contract:
    // chunking exists for 30-50k-merge tokenizers, changes no value)
    val words = Seq("aaab", "ab", "ba", "cb", "cba", "")
      .toDF("word")
    val merges = Seq("_a _a", "_a _b", "_b _a", "_c _ba", "_aa _ab")
    val single = graft.llm.Corpus.applyMergesChunked(words, merges, chunkSize = 100)
      .orderBy("word").as[(String, String)].collect().toSeq
    val chunked = graft.llm.Corpus.applyMergesChunked(words, merges, chunkSize = 2)
      .orderBy("word").as[(String, String)].collect().toSeq
    assert(chunked === single)
    // and the single path matches the driver-side greedy replay
    def encodeWord(w: String): String =
      merges.foldLeft(w.map(c => s"_$c").mkString(" ")) { (s, pair) =>
        val merged = "_" + pair.replace("_", "").replace(" ", "")
        (s + " ").replace(pair + " ", merged + " ").stripSuffix(" ").stripTrailing()
      }
    assert(single.toMap === words.as[String].collect().map(w => w -> encodeWord(w)).toMap)
  }

  test("bpeEncode round-trips bpeMerges: a trained word encodes to its final vocab state") {
    val docs = Seq((1L, "aaab aaab ab ba cb cba")).toDF("doc_id", "text")
    val merges = graft.llm.Corpus.bpeMerges(docs, "doc_id", "text", numMerges = 3)
      .orderBy("rank").collect().map(_.getString(1)).toSeq
    val enc = graft.llm.Corpus.bpeEncode(docs, "doc_id", "text", merges)
      .select("bpe_text").as[String].collect().head
    // replay the training rewrite per word on the driver as the oracle
    def encodeWord(w: String): String =
      merges.foldLeft(w.map(c => s"_$c").mkString(" ")) { (s, pair) =>
        val merged = "_" + pair.replace("_", "").replace(" ", "")
        (s + " ").replace(pair + " ", merged + " ").stripSuffix(" ")
      }
    val expected = "aaab aaab ab ba cb cba".split(" ").map(encodeWord).mkString(" ")
    assert(enc === expected)
  }

  test("nb eval cells: counts partition the held-out set and milli-rates are exact") {
    // 2 seed docs per class, 3 held-out docs: two separable, one
    // deliberately confusable (B-evidence under truth A)
    val docs = Seq(
      (1L, "cat cat dog", "A", true), (2L, "cat fish", "A", true),
      (3L, "wolf wolf bear", "B", true), (4L, "wolf bear", "B", true),
      (5L, "cat cat cat", "A", false), (6L, "wolf bear bear", "B", false),
      (7L, "wolf wolf", "A", false)
    ).toDF("doc_id", "text", "lang", "seed")
    val preds = graft.llm.Classifier.naiveBayes(docs, "doc_id", "text",
      when(col("seed"), col("lang")))
    val cells = preds.join(docs.select("doc_id", "lang", "seed"), "doc_id")
      .filter(!col("seed"))
      .groupBy(col("lang").as("truth"), col("pred"))
      .agg(count(lit(1)).as("n"))
    val got = cells
      .join(cells.groupBy("truth").agg(sum(col("n")).as("n_truth")), "truth")
      .withColumn("cell_milli", expr("n * 1000 div n_truth"))
      .orderBy("truth", "pred")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("A", "A", 1L, 2L, 500L),   // doc 5 correct
      ("A", "B", 1L, 2L, 500L),   // doc 7: wolf-heavy text under truth A
      ("B", "B", 1L, 1L, 1000L))) // doc 6 correct
  }

  test("naiveBayes: seed-trained argmax, OOV-invariance, prior-only floor") {
    val docs = Seq(
      (1L, "cat cat dog", "A"),   // seed: class A is cat/dog-ish
      (2L, "cat fish", "A"),
      (3L, "wolf wolf bear", "B"),
      (4L, "cat cat", null),      // clear A evidence
      (5L, "wolf bear bear", null),
      (6L, "zzz qqq", null),      // fully OOV -> prior decides (A: 2 of 3 seeds)
      (7L, "", null),             // token-free -> prior-only, n_scored 0
      (8L, "cat cat zzz", null)   // OOV term must not flip the argmax
    ).toDF("doc_id", "text", "lbl")
    val got = graft.llm.Classifier.naiveBayes(docs, "doc_id", "text", col("lbl"))
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got.map(r => r._1 -> r._2).toMap ==
      Map(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "A", 5L -> "B", 6L -> "A",
        7L -> "A", 8L -> "A"))
    val byId = got.map(r => r._1 -> r).toMap
    // n_scored counts IN-VOCABULARY instances only: doc 8 scores 2 of 3
    assert(byId(8L)._4 == 2L && byId(7L)._4 == 0L && byId(6L)._4 == 0L)
    // OOV terms are argmax-invariant AND score-invariant: doc 8 == doc 4
    assert(byId(8L)._3 == byId(4L)._3)
    // prior-only docs score exactly the class prior: ln(2/3) in micro-nats
    assert(byId(6L)._3 == math.floor(math.log(2.0 / 3.0) * 1e6).toLong)
  }

  test("NB staged model: train-once/serve-many is value-identical; out-of-sync artifacts fail loudly") {
    val docs = Seq(
      (1L, "cat cat dog", "A"),
      (2L, "cat fish", "A"),
      (3L, "wolf wolf bear", "B"),
      (4L, "cat cat", null),
      (5L, "wolf bear bear", null),
      (6L, "zzz qqq", null),
      (7L, "", null),
      (8L, "cat cat zzz", null)
    ).toDF("doc_id", "text", "lbl")
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_nb_model"
    graft.streaming.Streams.deleteDir(spark, dir)
    val (terms, classes) =
      graft.llm.Classifier.trainNaiveBayesModel(docs, "doc_id", "text", col("lbl"))
    terms.write.mode("overwrite").parquet(s"$dir/terms")
    classes.write.mode("overwrite").parquet(s"$dir/classes")
    // the persisted class constants carry the training provenance
    val cls = spark.read.parquet(s"$dir/classes")
      .orderBy("cls").as[(String, Long, Long, Long)].collect().toSeq
    assert(cls.map(_._1) == Seq("A", "B"))
    assert(cls.forall(_._4 == 5L), s"vocab_size must stamp 5: $cls")
    // serving from the artifact replays the combined path bit-for-bit,
    // including prior-only and OOV docs
    val served = graft.llm.Classifier.naiveBayesFromModel(docs, "doc_id", "text",
        spark.read.parquet(s"$dir/terms"), spark.read.parquet(s"$dir/classes"))
      .orderBy("doc_id").collect().toSeq
    val combined = graft.llm.Classifier.naiveBayes(docs, "doc_id", "text", col("lbl"))
      .orderBy("doc_id").collect().toSeq
    assert(served.nonEmpty && served == combined)
    // a classes table naming a class the terms table lacks cannot
    // score silently-wrong: the artifact-sync check fails loudly
    val err = intercept[IllegalArgumentException] {
      graft.llm.Classifier.naiveBayesFromModel(docs, "doc_id", "text",
        spark.read.parquet(s"$dir/terms").drop("__lp_B"),
        spark.read.parquet(s"$dir/classes"))
    }
    assert(err.getMessage.contains("out of sync"), err.getMessage)
  }

  test("Y28b staged BPE model: load round-trips the exact ranked merges; an unseen batch encodes identically to the live model") {
    val train = Seq(
      (1L, "hello hello world"), (2L, "hello help world word"),
      (3L, "held helm work worn")).toDF("doc_id", "text")
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_y28b_bpe"
    graft.streaming.Streams.deleteDir(spark, dir)
    graft.llm.Corpus.stageBpeModel(train, "doc_id", "text", dir, numMerges = 4)
    val loaded = graft.llm.Corpus.loadBpeModel(spark, dir)
    val live = graft.llm.Corpus.bpeMerges(train, "doc_id", "text", numMerges = 4)
      .orderBy("rank").collect().map(_.getString(1)).toSeq
    // rank order IS the model: the artifact must replay the merge
    // sequence exactly, not just the same pair set
    assert(loaded == live && loaded.size == 4, s"loaded=$loaded live=$live")
    // serve-many: an ingest batch whose words were NEVER seen in
    // training (the case the shared sf0.01 oracle can't exercise —
    // there the corpus encodes itself) must encode under the staged
    // model exactly as under the live one, and empty docs keep rows
    val batch = Seq((10L, "hell hollow"), (11L, "")).toDF("doc_id", "text")
    val staged = graft.llm.Corpus.bpeEncode(batch, "doc_id", "text", loaded)
      .orderBy("doc_id").collect().toSeq
    val direct = graft.llm.Corpus.bpeEncode(batch, "doc_id", "text", live)
      .orderBy("doc_id").collect().toSeq
    assert(staged == direct, s"staged=$staged direct=$direct")
    assert(staged.head.getAs[Long]("n_bpe_tokens") > 0L)
    assert(staged(1).getAs[String]("bpe_text") == "" &&
      staged(1).getAs[Long]("n_words") == 0L)
  }

  test("Y21b staged DSIR model: totals derive from the written vocab; unseen-batch OOV terms score under the same add-1 smoothing") {
    val train = Seq(
      (1L, "en", "apple banana apple"), (2L, "en", "apple cherry"),
      (3L, "de", "der hund"), (4L, "de", "der der baum")).toDF("doc_id", "lang", "text")
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_y21b_dsir"
    graft.streaming.Streams.deleteDir(spark, dir)
    graft.llm.Corpus.stageDsirModel(train, "doc_id", "text", col("lang") === "en", dir)
    val live = graft.io.Staging.resolveRead(spark, dir)
    val vocab = spark.read.parquet(s"$live/vocab")
    val totals = spark.read.parquet(s"$live/totals")
    // the totals artifact is DERIVED from the written vocab (one
    // re-read), so the two tables cannot disagree
    val t = totals.collect()(0)
    val vc = vocab.agg(sum(col("c_raw")), sum(col("c_tgt")), count(lit(1))).collect()(0)
    assert((t.getLong(0), t.getLong(1), t.getLong(2)) ==
      (vc.getLong(0), vc.getLong(1), vc.getLong(2)), s"totals=$t vocab-sums=$vc")
    // scoring the training corpus against the staged model is
    // value-identical to the direct train-and-score path
    val staged = graft.llm.Corpus
      .importanceWeightsStaged(train, "doc_id", "text", vocab, totals)
      .orderBy("doc_id").collect().toSeq
    val direct = graft.llm.Corpus
      .importanceWeights(train, "doc_id", "text", col("lang") === "en")
      .orderBy("doc_id").collect().toSeq
    assert(staged == direct, s"staged=$staged direct=$direct")
    // an ingest batch of terms the model NEVER saw (the case the
    // shared oracle can't exercise) scores with count 0 under the same
    // add-1 smoothing — the expected micro-nat value is computable
    // from the collected totals, so the OOV convention is pinned
    val batch = Seq((10L, "zzz yyy")).toDF("doc_id", "text")
    val got = graft.llm.Corpus
      .importanceWeightsStaged(batch, "doc_id", "text", vocab, totals)
      .collect()(0)
    val exp = 2L * (
      math.floor(math.log(1.0 / (t.getLong(1) + t.getLong(2))) * 1e6).toLong -
      math.floor(math.log(1.0 / (t.getLong(0) + t.getLong(2))) * 1e6).toLong)
    assert(got.getAs[Long]("n_tokens") == 2L &&
      got.getAs[Long]("weight_micro") == exp,
      s"got=$got expected weight_micro=$exp")
  }

  test("staged unigram LM (e6's scorer): value-identical to the inline self-LM; OOV terms excluded strict-MLE; totals derive from written counts") {
    val docs = Seq(
      (1L, "apple banana apple cherry"), (2L, "apple cherry"),
      (3L, "banana banana date"), (4L, "")).toDF("doc_id", "text")
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_unigram_lm"
    graft.streaming.Streams.deleteDir(spark, dir)
    graft.llm.Corpus.stageUnigramLm(docs, "doc_id", "text", dir)
    val live = graft.io.Staging.resolveRead(spark, dir)
    val counts = spark.read.parquet(s"$live/counts")
    val totals = spark.read.parquet(s"$live/totals")
    // the total is DERIVED from the written counts (the stageDsirModel
    // convention) — the pair cannot disagree
    assert(totals.collect()(0).getLong(0) ==
      counts.agg(sum(col("cnt"))).collect()(0).getLong(0))
    // scoring the training corpus against the staged model is
    // value-identical to the inline self-LM (the e6 serving contract) —
    // including the zero-token doc's (0, 0) row
    val staged = graft.llm.Corpus
      .unigramLogProbStaged(docs, "doc_id", "text", counts, totals)
      .orderBy("doc_id").collect().toSeq
    val direct = graft.llm.Corpus.unigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(staged == direct, s"staged=$staged direct=$direct")
    // a foreign batch: in-vocab terms score off the FROZEN model
    // counts, never-seen terms are excluded from tokens and micro-nats
    // (strict MLE — smoothing is importanceWeightsStaged's job)
    val got = graft.llm.Corpus
      .unigramLogProbStaged(Seq((9L, "apple zzz")).toDF("doc_id", "text"),
        "doc_id", "text", counts, totals)
      .collect()(0)
    val total = totals.collect()(0).getLong(0)
    val appleCnt = counts.filter(col("term") === "apple").collect()(0).getLong(1)
    val exp = math.floor(math.log(appleCnt.toDouble / total) * 1e6).toLong
    assert(got.getLong(1) == 1L && got.getLong(2) == exp, got.toString)
  }

  test("X22c ADC re-rank: exact scores on the shortlist, recall never below plain ADC") {
    val corpus = spark.range(30)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          j => (((col("id") % 11) * 13 + j * 7) % 29).cast("double") / lit(100.0))
          .as("embedding"))
    val queries = corpus.filter(col("vec_id") < 4)
    val idx = s"${sys.props("java.io.tmpdir")}/graft_test_x22c_idx"
    graft.streaming.Streams.deleteDir(spark, idx)
    graft.llm.Pq.buildAdcIndex(corpus, idx)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(graft.llm.Similarity.bruteForceTopK(corpus, queries, k = 3))
    val adc = pairs(graft.llm.Pq.adcTopKPrebuilt(spark, idx, queries, k = 3))
    // this fixture is deliberately raw (norm ~1.3): the spec pins the
    // re-rank MECHANICS, so it opts out of the unit-norm serve gate
    val rer = graft.llm.Pq.adcTopKReranked(spark, idx, corpus, queries,
      k = 3, shortlist = 12, allowRawNorms = true)
    val rerPairs = pairs(rer)
    // re-ranking can only help: every exact winner that survived the
    // 12-deep shortlist is recovered, so recall dominates plain ADC
    assert((rerPairs intersect exact).size >= (adc intersect exact).size,
      s"rerank recall dropped: rer=$rerPairs adc=$adc exact=$exact")
    // the re-ranked scores ARE the exact integer cosines — bit-identical
    // to brute force for every (query, neighbor) both sides ranked
    val bf = graft.llm.Similarity.bruteForceTopK(corpus, queries, k = 12)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    rer.select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().foreach { case (q, n, c) =>
        bf.get((q, n)).foreach(e => assert(e == c, s"($q,$n): rerank $c != exact $e"))
      }
    // a corpus frame that is NOT the one the index was built from must
    // fail loudly, never silently return a degraded "exact" top-k
    // (round-15 review finding): shortlist ids filtered out of the
    // passed frame trip the drift guard
    val drift = intercept[IllegalArgumentException] {
      graft.llm.Pq.adcTopKReranked(spark, idx, corpus.filter(col("vec_id") < 5),
        queries, k = 3, shortlist = 12, allowRawNorms = true).collect()
    }
    assert(drift.getMessage.contains("shortlist/corpus drift"), drift.getMessage)
  }

  test("ANN norm contract: raw-embedding indexes fail the metric-mixing serves loudly, unit-norm ones pass (r16 verdict item 2)") {
    // un-normalized 2-d corpus (norms 3..5-ish): builds fine — quantize
    // guards amplitude, not norm — but the L2-ranked ADC order and the
    // cosine-ranked probe/re-rank DISAGREE on it (the x24c 1M probe's
    // 0.944 recall plateau), so the mixing serves must fail with the
    // contract named instead of silently degrading recall
    val raw = spark.range(16)
      .select(col("id").as("vec_id"),
        array((col("id") % 5 + 1).cast("double"),
          (col("id") % 3 + 2).cast("double")).as("embedding"))
    val q = raw.filter(col("vec_id") < 2)
    val idx = s"${sys.props("java.io.tmpdir")}/graft_test_normgate_idx"
    graft.streaming.Streams.deleteDir(spark, idx)
    graft.llm.Pq.buildPqIndex(raw, idx, m = 2, numCells = 4, coarseCells = 4)
    val e1 = intercept[IllegalArgumentException] {
      graft.llm.Pq.ivfAdcTopKPrebuilt(spark, idx, q, k = 3, m = 2).collect()
    }
    assert(e1.getMessage.contains("UN-normalized") && e1.getMessage.contains("L2"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.llm.Pq.ivfAdcTopKReranked(spark, idx, raw, q, k = 3, m = 2).collect()
    }
    assert(e2.getMessage.contains("UN-normalized"), e2.getMessage)
    // plain ADC is pure L2 — metric-consistent, stays servable on the
    // same raw index
    assert(graft.llm.Pq.adcTopKPrebuilt(spark, idx, q, k = 3, m = 2).count() > 0)
    // the explicit opt-out works (diagnostics/geometry callers)
    assert(graft.llm.Pq.ivfAdcTopKPrebuilt(spark, idx, q, k = 3, m = 2,
      allowRawNorms = true).count() > 0)
    // a unit-norm corpus stamps true and serves the full chain
    val unit = spark.range(16)
      .select(col("id").as("vec_id"),
        array(sin(col("id").cast("double")), cos(col("id").cast("double")))
          .as("embedding"))
    val uq = unit.filter(col("vec_id") < 2)
    val idx2 = s"${sys.props("java.io.tmpdir")}/graft_test_normgate_idx2"
    graft.streaming.Streams.deleteDir(spark, idx2)
    graft.llm.Pq.buildPqIndex(unit, idx2, m = 2, numCells = 4, coarseCells = 4)
    assert(graft.llm.Pq.ivfAdcTopKReranked(spark, idx2, unit, uq, k = 3, m = 2)
      .count() > 0, "a unit-norm index must serve the mixing chain ungated")
    // the IVF-flat build stamps provenance too (no gate by design:
    // cosine is scale-invariant end to end there)
    val idx3 = s"${sys.props("java.io.tmpdir")}/graft_test_normgate_idx3"
    graft.streaming.Streams.deleteDir(spark, idx3)
    graft.llm.Similarity.buildIvfIndex(raw, idx3, numCells = 4)
    val live3 = graft.io.Staging.resolveRead(spark, idx3)
    val stamp = spark.read.parquet(s"$live3/norm_params").collect()
    assert(stamp.length == 1 && !stamp(0).getAs[Boolean]("unit_norm"),
      "IVF-flat must stamp the raw-norm provenance")
    assert(graft.llm.Similarity.ivfTopKPrebuilt(spark, idx3, q, k = 3).count() > 0,
      "IVF-flat serving stays ungated — cosine is scale-invariant")
    // a PRE-CONTRACT index (no unit_norm column — an external or
    // older build) is a distinct failure: the gate cannot verify the
    // agreement it assumes, and says so (vs the stamped-false message)
    val live2 = graft.io.Staging.resolveRead(spark, idx2)
    val params = spark.read.parquet(s"$live2/index_params")
      .drop("unit_norm").collect()
    val old = spark.createDataFrame(
      spark.sparkContext.parallelize(params.toSeq),
      spark.read.parquet(s"$live2/index_params").drop("unit_norm").schema)
    old.coalesce(1).write.mode("overwrite").parquet(s"$live2/index_params")
    val e3 = intercept[IllegalArgumentException] {
      graft.llm.Pq.ivfAdcTopKPrebuilt(spark, idx2, uq, k = 3, m = 2).collect()
    }
    assert(e3.getMessage.contains("no unit_norm stamp"), e3.getMessage)
    // appending a RAW batch into a unit-norm-stamped IVF index must
    // downgrade the provenance stamp — a stale true stamp would
    // overclaim what was indexed (serving stays ungated either way)
    val idx4 = s"${sys.props("java.io.tmpdir")}/graft_test_normgate_idx4"
    graft.streaming.Streams.deleteDir(spark, idx4)
    graft.llm.Similarity.buildIvfIndex(unit, idx4, numCells = 4)
    def stampOf(dir: String): Boolean = {
      val live = graft.io.Staging.resolveRead(spark, dir)
      spark.read.parquet(s"$live/norm_params").collect().head
        .getAs[Boolean]("unit_norm")
    }
    assert(stampOf(idx4), "a unit-norm build must stamp true")
    graft.llm.Similarity.appendToIvfIndex(
      raw.withColumn("vec_id", col("vec_id") + lit(100L)), idx4)
    assert(!stampOf(idx4), "a raw append must downgrade the norm stamp")
    assert(graft.llm.Similarity.ivfTopKPrebuilt(spark, idx4, uq, k = 3).count() > 0,
      "the appended index still serves (IVF is cosine end to end)")
    graft.streaming.Streams.deleteDir(spark, idx)
    graft.streaming.Streams.deleteDir(spark, idx2)
    graft.streaming.Streams.deleteDir(spark, idx3)
    graft.streaming.Streams.deleteDir(spark, idx4)
  }

  test("quantize amplitude contract: unnormalized embeddings fail with a NAMED overflow error on every similarity entry point") {
    // amplitude ~1000 at dim 64: the 1e-6 fixed-point self-dot would
    // reach ~6.4e19 > Long.MaxValue. Pre-guard this either wrapped to
    // <= 0 (a MISLEADING zero-norm error) or stayed positive and
    // silently ranked garbage; the quantize boundary check must name
    // the real problem on every embedding-family entry point.
    val bad = spark.range(40)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          j => (lit(1000.0) + col("id") + j).as("x")).as("embedding"))
    def assertOverflow(tag: String)(body: => Unit): Unit = {
      val e = intercept[Throwable] { body }
      val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(chain.contains("quantize overflow"), s"$tag: wrong error:\n$chain")
    }
    val s = graft.llm.Similarity
    assertOverflow("x5 bruteForceTopK") { s.bruteForceTopK(bad, bad.limit(2), 3).collect() }
    assertOverflow("x6 lshTopK") { s.lshTopK(bad, bad.limit(2), 3).collect() }
    assertOverflow("x7 ivfTopK") { s.ivfTopK(bad, bad.limit(2), 3, numCells = 2).collect() }
    assertOverflow("x9 embeddingNearDupPairs") {
      s.embeddingNearDupPairs(bad, threshold = 0.99).collect()
    }
    assertOverflow("x17 semanticDedup") {
      s.semanticDedup(bad, numCells = Some(2), iters = 1, threshold = 0.99).collect()
    }
    assertOverflow("x22 Pq.adcTopK") {
      graft.llm.Pq.adcTopK(bad, bad.limit(2), 3, m = 4, numCells = 2, iters = 1).collect()
    }
    // amplitude 150 sits BETWEEN the dot-only bound (~190 at dim 64)
    // and the L2-safe bound (~95): it must be rejected, pinning the
    // factor-16 contract the IVFADC squared-L2 needs — a regression to
    // the dot-only factor 4 would re-admit it and silently wrap ADC
    // distances (round-14 self-review finding)
    val between = spark.range(4)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), j => lit(150.0).as("x")).as("embedding"))
    assertOverflow("factor-16 L2 bound") {
      s.bruteForceTopK(between, between.limit(1), 2).collect()
    }
    // a component EXACTLY at the bound must also be rejected: floor()
    // on a NEGATIVE component sitting at the bound quantizes to
    // |q| = bound·1e6 + 1, one ulp past the wrap-free proof, so the
    // admission test is strict < (round-14 ADVICE). Same double math
    // as the guard's bound expression, so equality is bit-exact.
    val boundVal = math.sqrt(Long.MaxValue.toDouble / (16.0 * 64)) / 1e6
    val atBound = spark.range(4)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), j => lit(-boundVal).as("x")).as("embedding"))
    assertOverflow("exact-boundary amplitude") {
      s.bruteForceTopK(atBound, atBound.limit(1), 2).collect()
    }
    // in-bound embeddings still quantize unchanged (the guard is
    // check-only): power-of-two divisor keeps the floor exact in double
    val ok = spark.range(4)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          j => ((col("id") + j) / lit(512.0)).as("x")).as("embedding"))
      .select(s.quantize(col("embedding")).as("nv"))
      .selectExpr("nv[0] as first").orderBy("first")
      .as[Long].collect().toSeq
    assert(ok == Seq(1953L, 3906L, 5859L, 7812L), ok)
  }
}
