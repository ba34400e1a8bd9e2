package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ST2/ST3 semantics: the file-source checkpoint is the watermark. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("entry_id", LongType), StructField("user_id", LongType),
    StructField("ts_us", LongType), StructField("pageview_count", LongType),
    StructField("event_type", StringType)))

  test("ST2: re-running with the same checkpoint does not reprocess seen files") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_st2"
    val ckpt = s"$base/ckpt"
    Streams.deleteDir(spark, base)
    def writeFile(n: String, ids: Seq[Long]): Unit = {
      val f = new java.io.File(s"$base/src/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath,
        ids.map(i => s"""{"entry_id":$i,"user_id":1,"ts_us":${i * 1000000},"pageview_count":1,"event_type":"view"}""")
          .mkString("\n"))
    }
    val out = s"$base/out"
    def runOnce(): Unit = {
      // parquet sink: the memory sink refuses checkpoint recovery
      val q = spark.readStream.schema(schema).json(s"$base/src")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFile("a.json", Seq(1L, 2L))
    runOnce() // fresh checkpoint — intentionally NOT deleted after
    assert(spark.read.parquet(out).count() == 2)

    // a "late" file appears; second run with the SAME checkpoint only
    // picks up the new file, never re-reads a.json
    writeFile("b.json", Seq(3L))
    runOnce()
    val got = spark.read.parquet(out).select("entry_id").as[Long].collect().toSeq
    assert(got.sorted == Seq(1L, 2L, 3L), s"no duplicates from re-reading, got $got")
  }

  test("ST13: watermark-bounded dedup evicts state — a key recurring late re-emits") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_st13"
    Streams.deleteDir(spark, base)
    // delay 10s. b1: key A at t=1000s (emits, state expires 1010s).
    // b2: key B at t=100000s (emits; the batch's CLOSING watermark
    // jumps to ~99990s). b3: key C (emits; runs WITH that watermark
    // and evicts A — eviction is applied while processing a batch, so
    // the key needs one intervening batch after the watermark passes
    // it). b4: key A again at t=100020s → fresh state ⇒ emits AGAIN —
    // the bounded-state tradeoff st9's dropDuplicates never shows.
    // Distinct mtimes pin the per-trigger file order.
    val files = Seq(
      ("f1.json", 1L, 1000L * 1000000),
      ("f2.json", 2L, 100000L * 1000000),
      ("f3.json", 3L, 100010L * 1000000),
      ("f4.json", 1L, 100020L * 1000000))
    files.zipWithIndex.foreach { case ((n, uid, ts), i) =>
      val f = new java.io.File(s"$base/src/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath,
        s"""{"entry_id":$ts,"user_id":$uid,"ts_us":$ts,"pageview_count":1,"event_type":"view"}""")
      f.setLastModified(1700000000000L + i * 60000L)
    }
    val got = Streams.runFileStream(spark, s"$base/src", schema, s"$base/ckpt",
      df => Streams.streamDedupKeysWithinWatermark(df, Seq("user_id"), delay = "10 seconds"),
      maxFilesPerTrigger = Some(1))
      .as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 1L, 2L, 3L),
      s"expected user 1 re-emitted after state eviction, got $got")
    // the unbounded st9 dedup on the same inputs emits each key once
    Streams.deleteDir(spark, s"$base/ckpt2")
    val unbounded = Streams.runFileStream(spark, s"$base/src", schema, s"$base/ckpt2",
      df => Streams.streamDedupKeys(df, Seq("user_id")),
      maxFilesPerTrigger = Some(1))
      .as[Long].collect().toSeq.sorted
    assert(unbounded == Seq(1L, 2L, 3L))
  }

  test("ST5: dwell stitch crosses micro-batch boundaries") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_st5"
    Streams.deleteDir(spark, base)
    // two files = two micro-batches (maxFilesPerTrigger=1); user 7's
    // dwell from event 10 to event 11 spans the boundary
    Seq(("f1.json", Seq((10L, 1000L))), ("f2.json", Seq((11L, 5000L))))
      .foreach { case (n, evs) =>
        val f = new java.io.File(s"$base/src/$n")
        f.getParentFile.mkdirs()
        java.nio.file.Files.writeString(f.toPath,
          evs.map { case (id, ts) =>
            s"""{"entry_id":$id,"user_id":7,"ts_us":$ts,"pageview_count":1,"event_type":"view"}"""
          }.mkString("\n"))
        Thread.sleep(20) // distinct mod times → deterministic order
      }
    val out = Streams.runFileStream(spark, s"$base/src", schema, s"$base/ckpt",
      df => Streams.stitchDwell(spark, df),
      org.apache.spark.sql.streaming.OutputMode.Append(), maxFilesPerTrigger = Some(1))
    val rows = out.select("entry_id", "dwell_us").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((10L, 4000L)), s"cross-batch dwell, got $rows")
  }

  test("ST15: near-dup gate verdicts are micro-batch-boundary independent") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_st15"
    Streams.deleteDir(spark, base)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val bands = graft.llm.DedupLsh.corpusBandSignatures(
      corpus, "doc_id", "text", shingleN = 3, numHashes = 12, numBands = 4)
    // 3 incoming docs = exact dup of 1 / suffix-extended 2 / fresh,
    // one per micro-batch file
    val docs = Seq(
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "one two three four five six seven eight nine extra"),
      (13L, "totally novel content with no overlap whatsoever here"))
    docs.zipWithIndex.foreach { case ((id, text), i) =>
      val f = new java.io.File(s"$base/src/b$i.json")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath,
        s"""{"doc_id":$id,"lang":"en","text":"$text"}""")
      Thread.sleep(20)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    def run(tag: String, mft: Option[Int]) =
      Streams.runFileStreamNearDupGate(spark, s"$base/src", docSchema,
        s"$base/ckpt_$tag", s"$base/out_$tag", bands, maxFilesPerTrigger = mft)
        .orderBy("doc_id")
        .as[(Long, Long, Option[Double], Boolean)].collect().toSeq
    val perFile = run("a", Some(1)) // 3 micro-batches
    val oneShot = run("b", None)    // 1 micro-batch
    assert(perFile === oneShot, "verdicts must not depend on batching")
    assert(perFile.map(r => r._1 -> r._4) ===
      Seq(11L -> true, 12L -> true, 13L -> false))
    // the exact dup shares every shingle: jaccard exactly 1.0
    assert(perFile.head._3.contains(1.0))
  }

  test("ST15: an empty source yields an empty verdict frame, not a missing-path error") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_st15_empty"
    Streams.deleteDir(spark, base)
    new java.io.File(s"$base/src").mkdirs() // exists, matches zero files
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val bands = graft.llm.DedupLsh.corpusBandSignatures(
      corpus, "doc_id", "text", shingleN = 3, numHashes = 12, numBands = 4)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    // zero batches ⇒ no batch_id directory was ever written; the gate
    // must still return a typed empty frame (round-11 advice)
    val out = Streams.runFileStreamNearDupGate(spark, s"$base/src", docSchema,
      s"$base/ckpt", s"$base/out", bands)
    assert(out.isEmpty)
    assert(out.columns.toSeq === Seq("doc_id", "n_matches", "jac_max", "is_neardup"))
  }

  test("ST17: incremental pack never re-packs seen files; new landings append exactly once") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_st17"
    Streams.deleteDir(spark, base)
    def land(n: String, body: String): Unit = {
      val f = new java.io.File(s"$base/zone/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
    }
    (0 until 5).foreach(i => land(s"a_$i.bin", s"first wave $i"))
    // fresh run packs the first wave (reset=true clears ckpt + table)
    val first = Streams.runBinaryPackStream(spark, s"$base/zone/*.bin",
      s"$base/ckpt", s"$base/packed", maxFilesPerTrigger = Some(2))
    assert(first.count() == 5)
    // a second wave lands; resuming with the SAME checkpoint
    // (reset=false — the production mode) appends ONLY the new files:
    // the source's seen-file log is the no-re-pack guarantee
    (0 until 3).foreach(i => land(s"b_$i.bin", s"second wave $i"))
    val resumed = Streams.runBinaryPackStream(spark, s"$base/zone/*.bin",
      s"$base/ckpt", s"$base/packed", maxFilesPerTrigger = Some(2),
      reset = false)
    val names = resumed.select("fname").as[String].collect().toSeq.sorted
    assert(names == (0 until 5).map(i => s"a_$i.bin") ++ (0 until 3).map(i => s"b_$i.bin"),
      s"exactly one row per landed file, got $names")
    // byte fidelity of the accumulated table
    val body = resumed.filter(col("fname") === "b_2.bin")
      .select(col("content").cast("string")).as[String].head()
    assert(body == "second wave 2")
  }

  test("ST18: manifest stream drains per wave; resume ingests only newly-manifested waves") {
    import spark.implicits._
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_st18"
    Streams.deleteDir(spark, base)
    def land(n: String, body: String): (String, Long) = {
      val f = new java.io.File(s"$base/zone/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
      (f.getAbsolutePath, body.getBytes("UTF-8").length.toLong)
    }
    val w1 = (0 until 3).map(i => land(s"a_$i.bin", s"wave one $i"))
    graft.io.IO.appendLandingManifest(spark, s"$base/man", w1.toDF("path", "length"))
    val first = Streams.runManifestIngestStream(spark, s"$base/man",
      s"$base/ckpt", s"$base/out")
    assert(first.count() == 3)
    // a second wave lands AND manifests; resuming with the same
    // checkpoint (reset=false, the production steady state) processes
    // only the new segment — the source's seen-segment log, O(waves)
    // per-trigger relist, never a zone listing
    val w2 = (0 until 2).map(i => land(s"b_$i.bin", s"wave two $i"))
    graft.io.IO.appendLandingManifest(spark, s"$base/man", w2.toDF("path", "length"))
    val resumed = Streams.runManifestIngestStream(spark, s"$base/man",
      s"$base/ckpt", s"$base/out", reset = false)
    val names = resumed.select("fname").as[String].collect().toSeq.sorted
    assert(names == (0 until 3).map(i => s"a_$i.bin") ++ (0 until 2).map(i => s"b_$i.bin"),
      s"exactly one row per manifested file, got $names")
    val body = resumed.filter(col("fname") === "b_1.bin")
      .select(col("content").cast("string")).as[String].head()
    assert(body == "wave two 1")
    // crash-replay idempotence (the batch_id=N overwrite contract): a
    // driver crash between the sink's parquet commit and the
    // checkpoint's offset commit replays the batch — simulate it by
    // deleting the
    // last commit marker, forcing the engine to re-run that batch into
    // the SAME directory; the accumulated table must not grow
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty, "checkpoint must hold commit markers")
    val last = commits.last
    // drop the checksum sidecar too: a stale .crc under the local
    // ChecksumFileSystem makes the engine's commit-log rewrite read as
    // a concurrent-query conflict instead of a clean replay
    new java.io.File(last.getParentFile, s".${last.getName}.crc").delete()
    assert(last.delete(), "failed to simulate the crash window")
    val replayed = Streams.runManifestIngestStream(spark, s"$base/man",
      s"$base/ckpt", s"$base/out", reset = false)
    assert(replayed.count() == 5,
      "a replayed batch must overwrite its own directory, never append duplicates")
    assert(replayed.select("fname").as[String].collect().toSeq.sorted == names)
    // --- resume ACROSS A COMPACTION (round-16 verdict item 1): folding
    // the seen segments into the parquet checkpoint must be invisible
    // to a kept-checkpoint drain — its seen-file log already covers
    // them, and the next trigger ingests exactly the newly-manifested
    // wave from the now-smaller segment glob
    val (foldedSegs, ckptRows) = graft.io.IO.compactLandingManifest(spark, s"$base/man")
    assert(foldedSegs == 2 && ckptRows == 5L, s"got ($foldedSegs, $ckptRows)")
    val w3 = Seq(land("c_0.bin", "wave three 0"))
    graft.io.IO.appendLandingManifest(spark, s"$base/man", w3.toDF("path", "length"))
    val afterCompact = Streams.runManifestIngestStream(spark, s"$base/man",
      s"$base/ckpt", s"$base/out", reset = false)
    assert(afterCompact.select("fname").as[String].collect().toSeq.sorted ==
      names :+ "c_0.bin",
      "a compaction between drains must cost nothing and lose nothing")
    // --- kill MID-WAVE (round-16 verdict item 5): a drain that dies
    // between starting the sink's parquet job and the offset commit
    // leaves a PARTIAL batch_id dir (stray part file, _temporary) and
    // no commit marker — the resume must re-run that batch into the
    // same directory, replacing the partial junk, no dup, no loss
    val w4 = Seq(land("d_0.bin", "wave four 0"))
    graft.io.IO.appendLandingManifest(spark, s"$base/man", w4.toDF("path", "length"))
    val nextBatch = new java.io.File(s"$base/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).map(_.getName.toInt).max + 1
    val partial = new java.io.File(s"$base/out/batch_id=$nextBatch")
    new java.io.File(partial, "_temporary/0").mkdirs()
    java.nio.file.Files.write(
      new java.io.File(partial, "part-00000-killed.snappy.parquet").toPath,
      "torn write".getBytes("UTF-8"))
    val recovered = Streams.runManifestIngestStream(spark, s"$base/man",
      s"$base/ckpt", s"$base/out", reset = false)
    assert(recovered.count() == 7,
      "the killed wave must land exactly once across the restart")
    assert(recovered.select("fname").as[String].collect().toSeq.sorted ==
      (names :+ "c_0.bin" :+ "d_0.bin"),
      "no duplicate and no lost file after a mid-wave kill")
    assert(!new java.io.File(partial, "part-00000-killed.snappy.parquet").exists(),
      "the partial dir's torn file must be replaced by the re-run batch")
    val body4 = recovered.filter(col("fname") === "d_0.bin")
      .select(col("content").cast("string")).as[String].head()
    assert(body4 == "wave four 0")
  }

  test("ST18 auto-fold: post-drain compaction bounds live segments across drained waves (r17 verdict #4)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_st18_autofold"
    Streams.deleteDir(spark, base)
    val man = s"$base/man"
    val fs = new Path(man).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def land(n: String, body: String): (String, Long) = {
      val f = new java.io.File(s"$base/zone/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
      (f.getAbsolutePath, body.getBytes("UTF-8").length.toLong)
    }
    def segs(): Array[Path] =
      fs.globStatus(new Path(s"$man/seg_*.json")).map(_.getPath)
    // stamp every live segment with a deterministic, strictly
    // increasing mtime (by creation order — segment names embed the
    // landing millis): local-FS appends in one test can otherwise tie
    // within a clock granule, and the fold's strict `< newest` cutoff
    // is exactly what such ties exercise
    val mtimeBase = System.currentTimeMillis() - 3600000L
    def stampMtimes(): Unit =
      segs().sortBy(_.getName).zipWithIndex.foreach { case (p, i) =>
        fs.setTimes(p, mtimeBase + i * 60000L, -1)
      }
    var allNames = Seq.empty[String]
    (0 until 3).foreach { w =>
      val wave = (0 until 2).map(i => land(s"w${w}_$i.bin", s"wave $w file $i"))
      allNames = allNames ++ wave.map(_._1.split('/').last)
      graft.io.IO.appendLandingManifest(spark, man, wave.toDF("path", "length"))
      stampMtimes()
      val out = Streams.runManifestIngestStream(spark, man, s"$base/ckpt",
        s"$base/out", reset = w == 0, compactAfterDrain = true)
      assert(out.select("fname").as[String].collect().toSeq.sorted == allNames.sorted,
        s"cycle $w: the accumulated output must hold exactly the drained waves")
      // the auto-fold keeps only segments the drain could NOT prove
      // listed (ties with the newest-at-start mtime): with distinct
      // mtimes that is exactly the newest one
      assert(segs().length == 1,
        s"cycle $w: live segments must stay bounded, got ${segs().length}")
    }
    // the folded manifest stays complete for batch readers
    assert(graft.io.IO.readLandingManifest(spark, man).count() == 6)
    assert(graft.io.IO.readBinaryFromManifest(spark, man)
      .select("fname").as[String].collect().toSeq.sorted == allNames.sorted)
    // no fold runs for a drain that ingested nothing new and no marker
    // is left behind
    val before = segs().map(_.getName).toSeq
    Streams.runManifestIngestStream(spark, man, s"$base/ckpt",
      s"$base/out", reset = false, compactAfterDrain = true): Unit
    assert(segs().map(_.getName).toSeq == before)
    assert(!fs.exists(new Path(s"$man/_FOLDING")))
    // a FRESH (reset) drain against the folded manifest must refuse
    // loudly — it would see only live segments and silently miss every
    // folded wave (the log-compacted-source bootstrap rule)
    val e = intercept[IllegalArgumentException] {
      Streams.runManifestIngestStream(spark, man, s"$base/ckpt2",
        s"$base/out2", reset = true)
    }
    assert(e.getMessage.contains("folded"), e.getMessage)
    // the guard must hold ACROSS a fold's own crash window: park the
    // checkpoint at .__swap_old (a fold killed between its two
    // renames) — the guard heals first, so the crashed state cannot
    // slip a fresh drain past the exists check into a partial corpus
    assert(fs.rename(new Path(s"$man/_checkpoint"),
      new Path(s"$man/_checkpoint.__swap_old")))
    val e2 = intercept[IllegalArgumentException] {
      Streams.runManifestIngestStream(spark, man, s"$base/ckpt3",
        s"$base/out3", reset = true)
    }
    assert(e2.getMessage.contains("folded"), e2.getMessage)
    assert(fs.exists(new Path(s"$man/_checkpoint")),
      "the guard's recoverSwap must have healed the parked checkpoint")
  }

  test("multi-consumer manifest: the consumer-aware fold never starves a lagging sibling drain") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_multiconsumer"
    Streams.deleteDir(spark, base)
    val man = s"$base/man"
    val fs = new Path(man).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def land(n: String, body: String): (String, Long) = {
      val f = new java.io.File(s"$base/zone/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
      (f.getAbsolutePath, body.getBytes("UTF-8").length.toLong)
    }
    def segs(): Array[Path] =
      fs.globStatus(new Path(s"$man/seg_*.json")).map(_.getPath)
    val mtimeBase = System.currentTimeMillis() - 3600000L
    def stampMtimes(): Unit =
      segs().sortBy(_.getName).zipWithIndex.foreach { case (p, i) =>
        fs.setTimes(p, mtimeBase + i * 60000L, -1)
      }
    def drain(consumer: String, reset: Boolean, fold: Boolean) =
      Streams.runManifestIngestStream(spark, man, s"$base/ck_$consumer",
        s"$base/out_$consumer", reset = reset,
        compactAfterDrain = fold, consumerId = Some(consumer))
    // wave 0 lands; A and B both drain it (sibling consumers)
    val w0 = (0 until 2).map(i => land(s"w0_$i.bin", s"wave0 $i"))
    graft.io.IO.appendLandingManifest(spark, man, w0.toDF("path", "length"))
    stampMtimes()
    assert(drain("a", reset = true, fold = true).count() == 2)
    assert(drain("b", reset = true, fold = false).count() == 2)
    assert(graft.io.IO.readManifestConsumers(spark, man).keySet == Set("a", "b"))
    // wave 1 lands; only A drains it — B now LAGS. A's auto-fold is
    // consumer-aware: B's stale mark must hold wave 0's segment live
    // (the checkpoint parquet is outside B's source glob — folding it
    // would silently starve B of those waves)
    val w1 = (0 until 2).map(i => land(s"w1_$i.bin", s"wave1 $i"))
    graft.io.IO.appendLandingManifest(spark, man, w1.toDF("path", "length"))
    stampMtimes()
    assert(drain("a", reset = false, fold = true).count() == 4)
    assert(segs().length == 2,
      "a lagging sibling's un-advanced mark must keep both segments live")
    // B catches up; its mark advances; the central fold now proceeds
    // exactly up to what EVERY consumer has covered (wave 0's segment)
    assert(drain("b", reset = false, fold = false).count() == 4)
    val (folded, rows) = graft.io.IO.compactLandingManifestForConsumers(spark, man)
    assert(folded == 1 && rows == 2L, s"got ($folded, $rows)")
    assert(segs().length == 1, "only the newest segment band stays live")
    assert(graft.io.IO.readLandingManifest(spark, man).count() == 4)
    // no registered consumers -> the consumer-aware fold is a no-op
    val man2 = s"$base/man2"
    graft.io.IO.appendLandingManifest(spark, man2,
      Seq(w0.head).toDF("path", "length"))
    assert(graft.io.IO.compactLandingManifestForConsumers(spark, man2) == ((0, 0L)))
    // a torn mark fails LOUDLY with the repair action, never silently
    // (written through the Hadoop fs so the local ChecksumFileSystem's
    // .crc sidecar stays consistent — the tear under test is the
    // CONTENT, not a checksum mismatch)
    val badOut = fs.create(new Path(s"$man/_consumers/b.json"), true)
    badOut.write("{\"consumer\":\"b\"".getBytes("UTF-8")); badOut.close()
    val e = intercept[IllegalStateException] {
      graft.io.IO.readManifestConsumers(spark, man)
    }
    assert(e.getMessage.contains("torn or corrupt"), e.getMessage)
    // a path-hostile consumer id is refused before it names a file
    val e2 = intercept[IllegalArgumentException] {
      graft.io.IO.recordManifestConsumer(spark, man, "../evil", 0L)
    }
    assert(e2.getMessage.contains("consumer id"), e2.getMessage)
    // decommission: removing the (torn) retired mark unwedges the fold
    graft.io.IO.removeManifestConsumer(spark, man, "b")
    assert(graft.io.IO.readManifestConsumers(spark, man).keySet == Set("a"))
    graft.io.IO.removeManifestConsumer(spark, man, "b") // idempotent
    // a leading-dot id would write a mark the tmp-file filter then
    // HIDES from every fold (silent starvation) — refused up front,
    // on the destructive side too
    intercept[IllegalArgumentException] {
      graft.io.IO.recordManifestConsumer(spark, man, ".hidden", 0L)
    }
    intercept[IllegalArgumentException] {
      graft.io.IO.removeManifestConsumer(spark, man, "../evil")
    }
    // a drain that found NO segments still registers (Long.MinValue =
    // "covered nothing yet") — an unregistered consumer would be
    // invisible to sibling folds exactly while it is laggiest
    val man3 = s"$base/man3"
    Streams.runManifestIngestStream(spark, man3, s"$base/ck_c",
      s"$base/out_c", consumerId = Some("c")): Unit
    assert(graft.io.IO.readManifestConsumers(spark, man3) ==
      Map("c" -> Long.MinValue))
    assert(graft.io.IO.compactLandingManifestForConsumers(spark, man3) == ((0, 0L)))
  }

  test("concurrent engine streams on one session: sibling STATEFUL drains run side by side (r17 verdict #1)") {
    // the reference DAG schedules the users and browsinghistory drains
    // as sibling tasks (dags/dwh_dag.py:212-221); each engine stream
    // now runs on its own newSession clone — own SQLConf, so neither
    // the RocksDB provider pin nor per-query shuffle partitions can
    // race across overlapping runs, and the caller session's conf is
    // never touched
    import org.apache.spark.sql.types._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_concurrent"
    Streams.deleteDir(spark, base)
    def writeSrc(sub: String, rows: Seq[(Long, Long, Long)]): String = {
      val dir = new java.io.File(s"$base/$sub"); dir.mkdirs()
      rows.grouped(2).zipWithIndex.foreach { case (g, i) =>
        val f = new java.io.File(dir, s"b$i.json")
        java.nio.file.Files.write(f.toPath,
          g.map { case (id, uid, ts) =>
            s"""{"entry_id":$id,"user_id":$uid,"ts_us":$ts,"pageview_count":1,"event_type":"view"}"""
          }.mkString("\n").getBytes("UTF-8"))
        // distinct mtimes: the file source orders micro-batches by
        // modification time, and the stitch's cross-batch carry assumes
        // in-order waves — files written in one tight loop can tie
        // within a clock granule and replay out of order
        f.setLastModified(System.currentTimeMillis() - 60000L + i * 10000L): Unit
      }
      dir.toString
    }
    val src1 = writeSrc("src1",
      Seq((1L, 7L, 1000000L), (2L, 7L, 5000000L), (3L, 7L, 9000000L), (4L, 8L, 1000000L)))
    val src2 = writeSrc("src2",
      Seq((10L, 1L, 1000000L), (11L, 1L, 2000000L), (12L, 2L, 3000000L), (13L, 1L, 4000000L)))
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val provBefore = spark.conf.getOption(provKey)
    // both drains STATEFUL (cross-batch fMGWS state + dedup state), so
    // both exercise the RocksDB provider on their clones concurrently
    val f1 = Future(Streams.runFileStream(spark, src1, schema, s"$base/ckpt1",
      df => Streams.stitchDwell(spark, df),
      maxFilesPerTrigger = Some(1), shufflePartitions = Some(2)))
    val f2 = Future(Streams.runFileStream(spark, src2, schema, s"$base/ckpt2",
      df => Streams.streamDedupKeys(df, Seq("user_id")),
      maxFilesPerTrigger = Some(1), shufflePartitions = Some(3)))
    val r1 = Await.result(f1, 5.minutes)
    val r2 = Await.result(f2, 5.minutes)
    import spark.implicits._
    val dwells = r1.select("entry_id", "dwell_us").as[(Long, Long)].collect().toSeq.sorted
    assert(dwells == Seq((1L, 4000000L), (2L, 4000000L)),
      s"drain 1 (cross-batch stitch) must be correct under concurrency, got $dwells")
    val users = r2.select("user_id").as[Long].collect().toSeq.sorted
    assert(users == Seq(1L, 2L),
      s"drain 2 (stateful dedup) must be correct under concurrency, got $users")
    assert(spark.conf.getOption(provKey) == provBefore,
      "the caller session's provider conf must never be touched by engine streams")
  }

  test("concurrent engine streams isolate per-run provider and partition pins (the race the old lock guarded)") {
    // two drains that differ only in their partition pin, CONCURRENTLY
    // on one session — under the old session-wide conf swap this
    // interleaving could start a query on the other's settings; with
    // per-run clones each query's checkpoint must record the RocksDB
    // provider and ITS OWN partition count. The offsets log persists
    // the conf the query actually started with, so the assertion reads
    // the artifact Spark itself commits to.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_conc_iso"
    Streams.deleteDir(spark, base)
    val dir = new java.io.File(s"$base/src"); dir.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "a.json").toPath,
      (1 to 6).map(i =>
        s"""{"entry_id":$i,"user_id":${i % 2},"ts_us":${i * 1000000},"pageview_count":1,"event_type":"view"}""")
        .mkString("\n").getBytes("UTF-8"))
    def drain(ckpt: String, parts: Int) =
      Streams.runFileStream(spark, dir.toString, schema, ckpt,
        df => Streams.streamDedupKeys(df, Seq("user_id")),
        shufflePartitions = Some(parts))
    val pins = Seq(2, 3)
    pins.map(n => Future(drain(s"$base/ckpt$n", n)))
      .foreach(f => assert(Await.result(f, 5.minutes).count() == 2))
    pins.foreach { n =>
      val conf = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(s"$base/ckpt$n/offsets/0").toPath), "UTF-8")
      assert(conf.contains("RocksDBStateStoreProvider")
        && conf.contains(s"\"spark.sql.shuffle.partitions\":\"$n\""),
        s"the p$n drain must start on RocksDB and its own partition pin:\n$conf")
    }
  }

  test("concurrent foreachBatch drains (manifest ingest + bucketed upsert) share one session safely") {
    // the reference DAG's sibling-task shape across the OTHER runner
    // family: foreachBatch drains never touch session conf, so two on
    // one session (distinct checkpoints/tables) must interleave freely
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_conc_feb"
    Streams.deleteDir(spark, base)
    // manifest side: two landed waves
    val zone = new java.io.File(s"$base/zone"); zone.mkdirs()
    val waves = (0 until 4).map { i =>
      val f = new java.io.File(zone, s"f$i.bin")
      java.nio.file.Files.write(f.toPath, s"payload $i".getBytes("UTF-8"))
      (f.getAbsolutePath, f.length())
    }
    graft.io.IO.appendLandingManifest(spark, s"$base/man",
      waves.take(2).toDF("path", "length"))
    graft.io.IO.appendLandingManifest(spark, s"$base/man",
      waves.drop(2).toDF("path", "length"))
    // upsert side: two versions per user, keep-latest
    val src = new java.io.File(s"$base/usrc"); src.mkdirs()
    java.nio.file.Files.write(new java.io.File(src, "u.json").toPath,
      Seq((1L, 10L, 1L), (2L, 10L, 2L), (3L, 20L, 1L)).map { case (id, uid, ts) =>
        s"""{"entry_id":$id,"user_id":$uid,"ts_us":$ts,"pageview_count":1,"event_type":"view"}"""
      }.mkString("\n").getBytes("UTF-8"))
    val fMan = Future(Streams.runManifestIngestStream(spark, s"$base/man",
      s"$base/ckM", s"$base/outM"))
    val fUp = Future(Streams.runFileStreamUpsertBucketed(spark, src.toString,
      schema, s"$base/ckU", s"$base/tblU",
      keys = Seq("user_id"), order = Seq("ts_us", "entry_id"), nBuckets = 4))
    val man = Await.result(fMan, 5.minutes)
    val up = Await.result(fUp, 5.minutes)
    assert(man.select("fname").as[String].collect().toSeq.sorted ==
      (0 until 4).map(i => s"f$i.bin"))
    val kept = up.select("user_id", "entry_id").as[(Long, Long)].collect().toSeq.sorted
    assert(kept == Seq((10L, 2L), (20L, 3L)),
      s"keep-latest per user under a concurrent sibling drain, got $kept")
  }

  test("runFileStream drops its memory-sink view; the result survives the drop (r17 review)") {
    // each run registers a fresh mem_<nanoTime> view whose sink holds
    // every result row on the driver — without the drop, a session
    // looping engine streams accumulates every historical sink
    import org.apache.spark.sql.types._
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_memdrop"
    Streams.deleteDir(spark, base)
    val schema = StructType(Seq(StructField("entry_id", LongType),
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("pageview_count", LongType), StructField("event_type", StringType)))
    import spark.implicits._
    Seq((1L, 10L, 1000000L, 2L, "view"), (2L, 10L, 2000000L, 1L, "view"))
      .toDF("entry_id", "user_id", "ts_us", "pageview_count", "event_type")
      .coalesce(1).write.mode("overwrite").json(s"$base/src")
    val out = Streams.runFileStream(spark, s"$base/src", schema,
      s"$base/ckpt", df => df.select("entry_id", "user_id"))
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("mem_")),
      "the memory-sink view must be dropped before returning")
    assert(out.count() == 2, "the returned frame must outlive the dropped view")
  }

  test("ST21 bootstrap: a new consumer joins a compacted zone from the checkpoint band (r18 verdict #1)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_st21"
    Streams.deleteDir(spark, base)
    val man = s"$base/man"
    val fs = new Path(man).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def land(n: String, body: String): (String, Long) = {
      val f = new java.io.File(s"$base/zone/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
      (f.getAbsolutePath, body.getBytes("UTF-8").length.toLong)
    }
    def drainA(reset: Boolean) =
      Streams.runManifestIngestStream(spark, man, s"$base/ck_a",
        s"$base/out_a", reset = reset, compactAfterDrain = true,
        consumerId = Some("a"))
    // consumer a drains wave 0; wave 1 lands; a's second auto-fold
    // moves wave 0's segment into the checkpoint band
    val w0 = (0 until 2).map(i => land(s"w0_$i.bin", s"wave0 $i"))
    graft.io.IO.appendLandingManifest(spark, man, w0.toDF("path", "length"))
    assert(drainA(reset = true).count() == 2)
    Thread.sleep(5) // distinct segment mtimes on a coarse local clock
    val w1 = (0 until 2).map(i => land(s"w1_$i.bin", s"wave1 $i"))
    graft.io.IO.appendLandingManifest(spark, man, w1.toDF("path", "length"))
    val outA = drainA(reset = false)
    assert(outA.count() == 4)
    assert(fs.exists(new Path(s"$man/_checkpoint")), "wave 0 must have folded")
    // a FRESH-checkpoint drain refuses even with reset = false: the
    // guard keys on committed offsets, not the reset flag (r18 ADVICE
    // — a first-ever drain with reset=false is exactly as fresh)
    val eFresh = intercept[IllegalArgumentException] {
      Streams.runManifestIngestStream(spark, man, s"$base/ck_fresh",
        s"$base/out_fresh", reset = false)
    }
    assert(eFresh.getMessage.contains("no committed offsets"), eFresh.getMessage)
    // bootstrap refuses while a fold window is open (checkpoint and
    // live segments may overlap inside it)
    val marker = new Path(s"$man/_FOLDING")
    val mo = fs.create(marker, true)
    mo.write("""{"holder":"other:pid1"}""".getBytes("UTF-8")); mo.close()
    val eFold = intercept[IllegalArgumentException] {
      Streams.runManifestIngestStream(spark, man, s"$base/ck_b",
        s"$base/out_b", consumerId = Some("b"), bootstrapFromCheckpoint = true)
    }
    assert(eFold.getMessage.contains("_FOLDING"), eFold.getMessage)
    assert(fs.delete(marker, false))
    // an anonymous bootstrap would race sibling folds — consumerId required
    val eAnon = intercept[IllegalArgumentException] {
      Streams.runManifestIngestStream(spark, man, s"$base/ck_b",
        s"$base/out_b", bootstrapFromCheckpoint = true)
    }
    assert(eAnon.getMessage.contains("consumerId"), eAnon.getMessage)
    // consumer b JOINS post-fold: seeded from the checkpoint band +
    // the live wave-1 segment streamed — byte-equal to never-folded a
    val outB = Streams.runManifestIngestStream(spark, man, s"$base/ck_b",
      s"$base/out_b", consumerId = Some("b"), bootstrapFromCheckpoint = true)
    def contents(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.select(col("fname"), col("content").cast("string"))
        .as[(String, String)].collect().toSeq.sorted
    assert(contents(outB) == contents(outA),
      "a post-fold joiner's accumulated output must be byte-equal to a " +
        "never-folded consumer's")
    // b's mark registered and ADVANCED past MinValue (pre-registration
    // then the drain's own record) — sibling folds see real coverage
    val marks = graft.io.IO.readManifestConsumers(spark, man)
    assert(marks.keySet == Set("a", "b"))
    assert(marks("b") > Long.MinValue, s"got ${marks("b")}")
    // b resumes as a normal consumer: only the new wave drains
    Thread.sleep(5)
    val w2 = Seq(land("w2_0.bin", "wave2 0"))
    graft.io.IO.appendLandingManifest(spark, man, w2.toDF("path", "length"))
    val resumed = Streams.runManifestIngestStream(spark, man, s"$base/ck_b",
      s"$base/out_b", reset = false, consumerId = Some("b"))
    assert(resumed.count() == 5)
    assert(resumed.select("fname").as[String].collect().toSeq.sorted ==
      Seq("w0_0.bin", "w0_1.bin", "w1_0.bin", "w1_1.bin", "w2_0.bin"))
    // bootstrap of an UNFOLDED zone is just a fresh drain with
    // pre-registration (no seed band to read)
    val man2 = s"$base/man2"
    graft.io.IO.appendLandingManifest(spark, man2,
      Seq(w2.head).toDF("path", "length"))
    val outC = Streams.runManifestIngestStream(spark, man2, s"$base/ck_c",
      s"$base/out_c", consumerId = Some("c"), bootstrapFromCheckpoint = true)
    assert(outC.count() == 1)
    // --- the ZERO-LIVE-SEGMENT join: a consumer bootstrapping into a
    // FULLY-folded zone drains zero batches, so its stream checkpoint
    // has no committed offsets — the bootstrap sentinel (fingerprint
    // of the seeded _checkpoint) is what lets its steady-state resumes
    // proceed instead of being refused into re-bootstraps forever
    // folds the last live segment. man2 has registered consumers, so a
    // default fold would clamp to min(marks) and fold nothing (r19
    // verdict #1) — the fully-folded-zone scenario needs the explicit
    // mark-ignorant override
    graft.io.IO.compactLandingManifest(spark, man2, ignoreConsumerMarks = true)
    val outD = Streams.runManifestIngestStream(spark, man2, s"$base/ck_d",
      s"$base/out_d", consumerId = Some("d"), bootstrapFromCheckpoint = true)
    assert(outD.count() == 1, "the seed band alone must come back")
    assert(new java.io.File(s"$base/ck_d/_graft_bootstrap.json").exists())
    // steady-state resume on the offset-less checkpoint: NOT refused
    val resumedD = Streams.runManifestIngestStream(spark, man2, s"$base/ck_d",
      s"$base/out_d", reset = false, consumerId = Some("d"))
    assert(resumedD.count() == 1, "an empty resume must keep the seeded band")
    // a new wave lands; the sentinel-covered resume drains exactly it
    Thread.sleep(5)
    graft.io.IO.appendLandingManifest(spark, man2,
      Seq(land("w3_0.bin", "wave3 0")).toDF("path", "length"))
    val resumedD2 = Streams.runManifestIngestStream(spark, man2, s"$base/ck_d",
      s"$base/out_d", reset = false, consumerId = Some("d"))
    assert(resumedD2.count() == 2)
    // a fold AFTER the bootstrap invalidates the sentinel: a still
    // offset-less consumer (e joins another fully-folded state, so its
    // bootstrap drains zero batches) must be refused into a
    // re-bootstrap when a mark-ignorant graceMs fold later advances
    // the checkpoint past its seed — never silently started
    graft.io.IO.compactLandingManifest(spark, man2,
      ignoreConsumerMarks = true) // back to zero live
    val outE = Streams.runManifestIngestStream(spark, man2, s"$base/ck_e",
      s"$base/out_e", consumerId = Some("e"), bootstrapFromCheckpoint = true)
    assert(outE.count() == 2, "seed band only (w2 head + w3_0)")
    Thread.sleep(5)
    graft.io.IO.appendLandingManifest(spark, man2,
      Seq(land("w4_0.bin", "wave4 0")).toDF("path", "length"))
    // the mark-IGNORANT fold is exactly what invalidates e's sentinel
    // (a mark-aware fold would be held back by e's lagging mark)
    assert(graft.io.IO.compactLandingManifest(spark, man2,
      ignoreConsumerMarks = true)._1 >= 1)
    val eStale = intercept[IllegalArgumentException] {
      Streams.runManifestIngestStream(spark, man2, s"$base/ck_e",
        s"$base/out_e", reset = false, consumerId = Some("e"))
    }
    assert(eStale.getMessage.contains("no committed offsets"), eStale.getMessage)
    // --- bootstrap crash recovery: a join killed mid-seed leaves a
    // torn batch_id=-1 band and a checkpoint without offsets or
    // sentinel — RE-RUNNING the bootstrap is the recovery (its reset
    // deletes the partial state and the seed write is an idempotent
    // overwrite), converging to the same accumulated output
    val tornSeed = new java.io.File(s"$base/out_f/batch_id=-1")
    new java.io.File(tornSeed, "_temporary/0").mkdirs()
    java.nio.file.Files.write(
      new java.io.File(tornSeed, "part-00000-killed.snappy.parquet").toPath,
      "torn seed".getBytes("UTF-8"))
    val outF = Streams.runManifestIngestStream(spark, man2, s"$base/ck_f",
      s"$base/out_f", consumerId = Some("f"), bootstrapFromCheckpoint = true)
    assert(outF.count() == 3, "the re-run bootstrap must replace the torn seed")
    assert(!new java.io.File(tornSeed, "part-00000-killed.snappy.parquet").exists(),
      "the torn seed file must be gone after the re-bootstrap")
  }

  test("a lagging marked consumer survives a graceMs fold losslessly (r19 verdict #1)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_lagclamp"
    Streams.deleteDir(spark, base)
    val man = s"$base/man"
    val fs = new Path(man).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def land(n: String): (String, Long) = {
      val f = new java.io.File(s"$base/zone/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, s"lag $n".getBytes("UTF-8"))
      (f.getAbsolutePath, f.length())
    }
    def drainL(reset: Boolean) =
      Streams.runManifestIngestStream(spark, man, s"$base/ck_l",
        s"$base/out_l", reset = reset, consumerId = Some("l"))
    // the ESTABLISHED consumer drains wave 0, then lags while waves 1
    // and 2 land; the segment mtimes are backdated so an age heuristic
    // alone would fold waves 0 AND 1 out of l's glob
    graft.io.IO.appendLandingManifest(spark, man,
      Seq(land("w0.bin")).toDF("path", "length"))
    assert(drainL(reset = true).count() == 1)
    for (w <- 1 to 2)
      graft.io.IO.appendLandingManifest(spark, man,
        Seq(land(s"w$w.bin")).toDF("path", "length"))
    val segs = fs.globStatus(new Path(s"$man/seg_*.json"))
      .sortBy(_.getModificationTime)
    val now = System.currentTimeMillis()
    fs.setTimes(segs(0).getPath, now - 7200000L, -1)
    fs.setTimes(segs(1).getPath, now - 5400000L, -1)
    fs.setTimes(segs(2).getPath, now, -1)
    // l's mark must survive the backdating: re-pin it to wave 0's new
    // mtime (the fixture equivalent of what its drain recorded)
    graft.io.IO.removeManifestConsumer(spark, man, "l")
    graft.io.IO.recordManifestConsumer(spark, man, "l", now - 7200000L)
    // a graceMs of 30 min would age-fold waves 0 and 1 — the mark
    // clamps the cutoff to l's coverage, so only wave 0 folds
    val (folded, _) = graft.io.IO.compactLandingManifest(spark, man,
      graceMs = 1800000L)
    assert(folded == 1, s"only the covered wave may fold, got $folded")
    // l resumes on its kept checkpoint: waves 1 and 2 are still in its
    // glob — LOSSLESS, enforced rather than convention-protected
    val resumed = drainL(reset = false)
    assert(resumed.select("fname").as[String].collect().toSeq.sorted ==
      Seq("w0.bin", "w1.bin", "w2.bin"),
      "the lagging consumer must see every wave despite the graceMs fold")
  }

  test("an anonymous drain's auto-fold clamps to sibling marks (round 20)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_anonclamp"
    Streams.deleteDir(spark, base)
    val man = s"$base/man"
    val fs = new Path(man).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def land(n: String): (String, Long) = {
      val f = new java.io.File(s"$base/zone/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, s"ac $n".getBytes("UTF-8"))
      (f.getAbsolutePath, f.length())
    }
    def segCount(): Int = fs.globStatus(new Path(s"$man/seg_*.json")).length
    def drainM(reset: Boolean) =
      Streams.runManifestIngestStream(spark, man, s"$base/ck_m",
        s"$base/out_m", reset = reset, consumerId = Some("m"))
    def drainAnon(reset: Boolean) =
      Streams.runManifestIngestStream(spark, man, s"$base/ck_anon",
        s"$base/out_anon", reset = reset, compactAfterDrain = true)
    // marked consumer m covers wave 0 only; waves 1-2 land while it lags
    graft.io.IO.appendLandingManifest(spark, man,
      Seq(land("w0.bin")).toDF("path", "length"))
    assert(drainM(reset = true).count() == 1)
    for (w <- 1 to 2) {
      Thread.sleep(5)
      graft.io.IO.appendLandingManifest(spark, man,
        Seq(land(s"w$w.bin")).toDF("path", "length"))
    }
    // an ANONYMOUS sibling drains everything and auto-folds: "I listed
    // all of it" proves nothing about m — the OlderThan cutoff clamps
    // to m's mark (strictly before wave 0's mtime), so NOTHING folds
    assert(drainAnon(reset = true).count() == 3)
    assert(segCount() == 3,
      "the anonymous auto-fold must hold every wave m has not covered")
    // m resumes losslessly — waves 1-2 are still in its glob
    assert(drainM(reset = false).count() == 3)
    // m catches up past the old waves: after wave 3 lands, m's next
    // drain advances its mark to (wave-3 mtime - 1); the anonymous
    // auto-fold can then fold exactly the band both covered
    Thread.sleep(5)
    graft.io.IO.appendLandingManifest(spark, man,
      Seq(land("w3.bin")).toDF("path", "length"))
    assert(drainM(reset = false).count() == 4)
    assert(drainAnon(reset = false).count() == 4)
    assert(segCount() == 1,
      "with m caught up, the covered band folds and the newest wave stays live")
    // both consumers still see the whole corpus
    assert(drainM(reset = false).select("fname").as[String].collect().toSeq.sorted ==
      Seq("w0.bin", "w1.bin", "w2.bin", "w3.bin"))
  }

  test("double-bootstrap exclusion: one bootstrap at a time per consumer id (r19 verdict #6)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_bootlock"
    Streams.deleteDir(spark, base)
    val man = s"$base/man"
    val fs = new Path(man).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def land(n: String): (String, Long) = {
      val f = new java.io.File(s"$base/zone/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, s"bl $n".getBytes("UTF-8"))
      (f.getAbsolutePath, f.length())
    }
    graft.io.IO.appendLandingManifest(spark, man,
      (0 until 3).map(i => land(s"b$i.bin")).toDF("path", "length"))
    graft.io.IO.compactLandingManifest(spark, man) // zone is folded
    def bootstrap(id: String, takeover: Boolean = false) =
      Streams.runManifestIngestStream(spark, man, s"$base/ck_$id",
        s"$base/out_$id", consumerId = Some(id),
        bootstrapFromCheckpoint = true, takeoverCrashedBootstrap = takeover)
    // a HELD lock (a sibling operator's in-flight join, or a kill -9'd
    // one) refuses loudly naming the holder — never interleaves
    val lock = new Path(s"$man/_consumers/.bootstrap_b.lock")
    fs.mkdirs(lock.getParent)
    val o = fs.create(lock, true)
    o.write("""{"holder":"otherhost:pid7","acquired_at_ms":1}""".getBytes("UTF-8"))
    o.close()
    val e = intercept[IllegalStateException] { bootstrap("b") }
    assert(e.getMessage.contains("otherhost:pid7")
      && e.getMessage.contains("takeover"), e.getMessage)
    // a DIFFERENT consumer id does not contend — the lock is per id
    assert(bootstrap("c").count() == 3)
    assert(!fs.exists(new Path(s"$man/_consumers/.bootstrap_c.lock")),
      "a completed bootstrap must release its lock")
    // after verifying the holder crashed, takeover recovers the join
    assert(bootstrap("b", takeover = true).count() == 3)
    assert(!fs.exists(lock))
    // an in-process FAILURE releases the lock too (re-run needs no
    // takeover): poison the zone so the seed's open fails mid-bootstrap
    val victim = new java.io.File(s"$base/zone/b0.bin")
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    assert(victim.delete())
    intercept[Exception] { bootstrap("d") }
    assert(!fs.exists(new Path(s"$man/_consumers/.bootstrap_d.lock")),
      "a failed bootstrap must release its lock on the way out")
    java.nio.file.Files.write(victim.toPath, bytes)
    assert(bootstrap("d").count() == 3, "the re-run needs no takeover")
    // two CONCURRENT bootstraps of the SAME id: any interleaving
    // converges — a loser fails loudly at the lock (or both serialize
    // to the same idempotent result); no torn output, lock released
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = Seq(
      Future(scala.util.Try(bootstrap("e"))),
      Future(scala.util.Try(bootstrap("e"))))
      .map(Await.result(_, 5.minutes))
    assert(attempts.exists(_.isSuccess), s"one join must win: $attempts")
    attempts.filter(_.isFailure).foreach(l => assert(
      l.failed.get.getMessage.contains("bootstrap"),
      s"a losing join must fail loudly at the bootstrap lock, got ${l.failed.get}"))
    assert(!fs.exists(new Path(s"$man/_consumers/.bootstrap_e.lock")))
    val outE = Streams.runManifestIngestStream(spark, man, s"$base/ck_e",
      s"$base/out_e", reset = false, consumerId = Some("e"))
    assert(outE.select("fname").as[String].collect().toSeq.sorted ==
      Seq("b0.bin", "b1.bin", "b2.bin"),
      "whatever the interleaving, the consumer's accumulated output converges")
  }

  test("bootstrap joins a zone with cross-wave basename collisions; a double-length path still fails (r19 ADVICE)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_bootcollide"
    Streams.deleteDir(spark, base)
    val man = s"$base/man"
    def land(dir: String, n: String, body: String): (String, Long) = {
      val f = new java.io.File(s"$base/$dir/$n")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
      (f.getAbsolutePath, f.length())
    }
    def drainA(reset: Boolean) =
      Streams.runManifestIngestStream(spark, man, s"$base/ck_a",
        s"$base/out_a", reset = reset, consumerId = Some("a"))
    // the SAME basename lands in two waves from two directories —
    // explicitly allowed by the drain path (per-wave collision scope);
    // fname-keyed ambiguity is the packed table's post-hoc check
    graft.io.IO.appendLandingManifest(spark, man,
      Seq(land("d1", "same.bin", "first wave")).toDF("path", "length"))
    assert(drainA(reset = true).count() == 1)
    Thread.sleep(5)
    graft.io.IO.appendLandingManifest(spark, man,
      Seq(land("d2", "same.bin", "second wave!")).toDF("path", "length"))
    val outA = drainA(reset = false)
    assert(outA.count() == 2)
    // fold EVERYTHING into the checkpoint band (a has provably
    // ingested both waves, so the mark-ignorant override is safe and
    // keeps the fixture compact — a's own mark is the strict
    // newest-at-start - 1 bound, which would hold the second wave
    // live): both colliding basenames now live in the band with no
    // wave column
    graft.io.IO.compactLandingManifest(spark, man, ignoreConsumerMarks = true)
    assert(new Path(man).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(s"$man/_checkpoint")))
    // the seed's per-path collision scope lets the join through — the
    // unscoped check of r19 made such zones permanently unjoinable
    // post-fold even though a never-folded consumer drains them fine
    val outB = Streams.runManifestIngestStream(spark, man, s"$base/ck_b",
      s"$base/out_b", consumerId = Some("b"), bootstrapFromCheckpoint = true)
    def contents(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.select(col("fname"), col("content").cast("string"))
        .as[(String, String)].collect().toSeq.sorted
    assert(contents(outB) == contents(outA),
      "the colliding-zone joiner must still be byte-equal to the never-folded consumer")
    // a path manifested at TWO lengths is real corruption and still
    // fails the seed loudly — the per-path scope narrows the check to
    // exactly the drain's semantics, it does not disable it
    val man2 = s"$base/man2"
    val (p, _) = land("d3", "corrupt.bin", "12345678")
    graft.io.IO.appendLandingManifest(spark, man2,
      Seq((p, 8L), (p, 5L)).toDF("path", "length"))
    graft.io.IO.compactLandingManifest(spark, man2)
    val eCorrupt = intercept[Exception] {
      Streams.runManifestIngestStream(spark, man2, s"$base/ck_c",
        s"$base/out_c", consumerId = Some("c"), bootstrapFromCheckpoint = true)
    }
    assert(eCorrupt.getMessage.contains("collision"), eCorrupt.getMessage)
  }

  test("suggestedStatePartitions encodes the probed U-curve pins (r19 verdict #7)") {
    // the registry's 1x-state pin and the 10x probe's optimum are the
    // anchor and the next decade — the rule must reproduce both
    assert(Streams.suggestedStatePartitions(100000L) == 8,
      "1e5 state rows is the probed p8 pin (PROBES.md, st8 RocksDB per-trigger constant)")
    assert(Streams.suggestedStatePartitions(1000000L) == 16,
      "1e6 state rows is the probed p16 pin (PROBES.md, st8 U-curve at 10x state)")
    // below the anchor the per-trigger commit constant dominates: p8 floor
    assert(Streams.suggestedStatePartitions(0L) == 8)
    assert(Streams.suggestedStatePartitions(10000L) == 8)
    // doubles per decade above the anchor, power-of-two rounded, capped
    assert(Streams.suggestedStatePartitions(10000000L) == 32)
    assert(Streams.suggestedStatePartitions(Long.MaxValue) == 512)
    // monotone non-decreasing across the whole range
    val walk = Seq(0L, 1L, 1000L, 50000L, 100000L, 300000L, 316228L,
      1000000L, 5000000L, 100000000L, 10000000000L)
      .map(Streams.suggestedStatePartitions)
    assert(walk == walk.sorted, s"must be monotone: $walk")
    intercept[IllegalArgumentException] { Streams.suggestedStatePartitions(-1L) }
    // the registry's st8 entry uses the helper at the fixture's state
    // volume — the pin is derived, not hardcoded
    assert(Streams.suggestedStatePartitions(100000L) == 8)
  }

  test("runFileStreamToParquet: table-sized results stream to files; resume appends exactly the new files (r18 verdict #4)") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_pq_runner"
    Streams.deleteDir(spark, base)
    val schema = StructType(Seq(StructField("entry_id", LongType),
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("pageview_count", LongType), StructField("event_type", StringType)))
    def writeBatch(n: String, rows: Seq[(Long, Long)]): Unit =
      rows.map { case (id, uid) =>
        s"""{"entry_id":$id,"user_id":$uid,"ts_us":${id * 1000},"pageview_count":1,"event_type":"view"}"""
      }.toDF("value").coalesce(1).write.mode("overwrite").text(s"$base/src/$n.json")
    writeBatch("b0", Seq((1L, 10L), (2L, 11L)))
    writeBatch("b1", Seq((3L, 10L)))
    val first = Streams.runFileStreamToParquet(spark, s"$base/src/*.json/*",
      schema, s"$base/ckpt", s"$base/out",
      df => df.select("entry_id", "user_id"), maxFilesPerTrigger = Some(1))
    assert(first.select("entry_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // resume with the kept checkpoint: the sink's _spark_metadata log +
    // the source's seen-file log append exactly the new file's rows
    writeBatch("b2", Seq((4L, 12L)))
    val resumed = Streams.runFileStreamToParquet(spark, s"$base/src/*.json/*",
      schema, s"$base/ckpt", s"$base/out",
      df => df.select("entry_id", "user_id"), reset = false)
    assert(resumed.select("entry_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L), "exactly-once across the resume")
    // a glob matching nothing runs zero batches: empty frame with the
    // TRANSFORM's schema, not a path-not-found
    val empty = Streams.runFileStreamToParquet(spark, s"$base/nothing/*.json",
      schema, s"$base/ckpt2", s"$base/out2",
      df => df.select("entry_id", "user_id"))
    assert(empty.isEmpty && empty.columns.toSeq == Seq("entry_id", "user_id"))
  }

  /** One incarnation of a foreachBatch stream over the json files under
    * `srcDir`, one file per micro-batch, against checkpoint `ckpt`. When
    * `failOn` names a batch id, that batch throws before `sink` runs.
    * Returns the batch ids this incarnation saw and its failure. */
  private def foreachBatchDrain(srcDir: String, fileSchema: StructType, ckpt: String,
                                failOn: Option[Long])(
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)(
      sink: org.apache.spark.sql.DataFrame => Unit): (Seq[Long], Option[Throwable]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = transform(spark.readStream.schema(fileSchema)
        .option("maxFilesPerTrigger", 1).json(srcDir))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        seen.add(id)
        if (failOn.contains(id)) sys.error(s"injected failure in batch $id")
        sink(batch.toDF())
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val failure =
      try { q.awaitTermination(); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
      finally q.stop()
    import scala.jdk.CollectionConverters._
    (seen.asScala.toSeq, failure)
  }

  /** Runs `drain` uninterrupted on one checkpoint, then on a second one
    * failing in its second micro-batch and resumed: the failed run saw
    * batches 0 and 1, and the resume re-runs exactly batch 1 onward. */
  private def assertResumesFromFailedBatch(base: String)(
      drain: (String, Option[Long]) => (Seq[Long], Option[Throwable])): Unit = {
    val (seenBase, failBase) = drain("base", None)
    assert(failBase.isEmpty && seenBase == Seq(0L, 1L, 2L, 3L), s"uninterrupted run: $seenBase $failBase")
    val (seenFirst, failFirst) = drain("crash", Some(1L))
    assert(failFirst.exists(_.getMessage.contains("injected failure in batch 1")),
      s"the first incarnation must fail in batch 1: $failFirst")
    assert(seenFirst == Seq(0L, 1L), s"the failed run stops at batch 1: $seenFirst")
    val (seenResume, failResume) = drain("crash", None)
    assert(failResume.isEmpty, s"the resume must complete: $failResume")
    assert(seenResume == Seq(1L, 2L, 3L),
      s"batch 0 is committed, so the resume re-runs batch 1 onward: $seenResume")
  }

  test("ST12 bucketed upsert resumes from its checkpoint after a failed micro-batch; the table equals an uninterrupted run") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_st12_resume"
    Streams.deleteDir(spark, base)
    // 4 one-file micro-batches; later files carry newer ts for
    // overlapping ids, so every batch has keep-latest work to do
    val rowSchema = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType), StructField("ts", LongType)))
    val rows = for (b <- 0L until 4L; i <- 0L until 50L) yield (b * 25 + i, b * 10, b)
    rows.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (b, rs) =>
      val f = new java.io.File(s"$base/src/b$b.json")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath,
        rs.map { case (id, v, ts) => s"""{"id":$id,"v":$v,"ts":$ts}""" }.mkString("\n"))
      Thread.sleep(20) // distinct mod times → deterministic batch order
    }
    assertResumesFromFailedBatch(base) { (run, failOn) =>
      foreachBatchDrain(s"$base/src", rowSchema, s"$base/ckpt_$run", failOn)(identity) { batch =>
        Streams.upsertBucketedBatch(spark, s"$base/table_$run", batch, Seq("id"), Seq("ts"), 4)
      }
    }
    def table(run: String): Seq[(Long, Long, Long)] =
      spark.read.parquet(s"$base/table_$run").select("id", "v", "ts")
        .as[(Long, Long, Long)].collect().toSeq.sorted
    val keepLatest = rows.groupBy(_._1).values.map(_.maxBy(_._3)).toSeq.sorted
    assert(table("base") == keepLatest, "the uninterrupted run must keep the latest row per id")
    assert(table("crash") == table("base"), "a failed batch and its resume must be invisible in the table")
  }

  test("transformWithState dwell stitch resumes from its RocksDB checkpoint after a failed micro-batch; the output equals an uninterrupted run") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_tws_resume"
    Streams.deleteDir(spark, base)
    // 4 one-file micro-batches, 3 users in every file, ts increasing
    // across files: every batch's first dwell per user stitches to the
    // state the previous batch left, so lost or doubled state shows
    val evSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("entry_id", LongType), StructField("ts_us", LongType)))
    val evs = for (b <- 0L until 4L; i <- 0L until 12L) yield (i % 3, i + b * 100, i * 7 + b * 1000)
    evs.grouped(12).zipWithIndex.foreach { case (rs, b) =>
      val f = new java.io.File(s"$base/src/b$b.json")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, rs.map { case (u, e, t) =>
        s"""{"user_id":$u,"entry_id":$e,"ts_us":$t}""" }.mkString("\n"))
      Thread.sleep(20) // distinct mod times → deterministic batch order
    }
    withSQLConf("spark.sql.streaming.stateStore.providerClass" -> Streams.RocksDbProvider,
                "spark.sql.shuffle.partitions" -> "2") {
      assertResumesFromFailedBatch(base) { (run, failOn) =>
        foreachBatchDrain(s"$base/src", evSchema, s"$base/ckpt_$run", failOn)(
          df => Streams.stitchDwellTws(spark, df)) { batch =>
          batch.write.mode("append").parquet(s"$base/out_$run")
        }
      }
    }
    def out(run: String): Seq[(Long, Long, Long)] =
      spark.read.parquet(s"$base/out_$run").select("user_id", "entry_id", "dwell_us")
        .as[(Long, Long, Long)].collect().toSeq.sorted
    val lead = evs.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
      rs.sortBy(_._3).sliding(2).collect { case Seq(a, b) => (u, a._2, b._3 - a._3) }
    }.sorted
    assert(out("base") == lead, "the uninterrupted run must stitch every consecutive pair")
    assert(out("crash") == out("base"), "a failed batch and its resume must be invisible in the output")
  }
}
