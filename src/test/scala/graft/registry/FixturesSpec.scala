package graft.registry

import java.nio.file.Files

import graft.SparkSpec

/** The registry's one fixture memo ([[Fixtures.staged]]) and scratch
  * root ([[Fixtures.scratch]]): a failed build stays rebuildable, a
  * successful one runs once per session and path, a deleted artifact
  * is rebuilt, and two corpora sharing a basename never share a
  * fixture. */
class FixturesSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("graft_fixtures").resolve("artifact").toString

  /** A build that leaves `p` on disk, counting its runs in `calls`. */
  private def build(p: String, calls: java.util.concurrent.atomic.AtomicInteger): Unit = {
    calls.incrementAndGet()
    new java.io.File(p).mkdirs(): Unit
  }

  test("staged: a failed build is retried; success builds exactly once") {
    val p = freshPath()
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    intercept[RuntimeException] {
      Fixtures.staged(spark, p) { calls.incrementAndGet(); sys.error("disk full mid-write") }
    }
    Fixtures.staged(spark, p)(build(p, calls))
    assert(Fixtures.staged(spark, p)(build(p, calls)) == p)
    assert(calls.get == 2, "retry rebuilds once, then the memo holds")
  }

  test("staged: keys are independent") {
    val (a, b) = (freshPath(), freshPath())
    var built = List.empty[String]
    Fixtures.staged(spark, a) { built ::= "a"; new java.io.File(a).mkdirs() }
    Fixtures.staged(spark, b) { built ::= "b"; new java.io.File(b).mkdirs() }
    Fixtures.staged(spark, a) { built ::= "a2"; new java.io.File(a).mkdirs() }
    assert(built.reverse == List("a", "b"))
  }

  test("staged: a second session builds again, then holds its own memo") {
    val p = freshPath()
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    Fixtures.staged(spark, p)(build(p, calls))
    val other = spark.newSession()
    Fixtures.staged(other, p)(build(p, calls))
    Fixtures.staged(other, p)(build(p, calls))
    Fixtures.staged(spark, p)(build(p, calls))
    assert(calls.get == 2, "one build per session")
  }

  test("staged: a root deleted from disk is rebuilt; a present one costs no Spark job") {
    val p = freshPath()
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    Fixtures.staged(spark, p)(build(p, calls))
    val (_, jobs) = withJobCount(Fixtures.staged(spark, p)(build(p, calls)))
    assert(calls.get == 1 && jobs == 0, s"memo hit: $calls builds, $jobs jobs")
    assert(new java.io.File(p).delete())
    Fixtures.staged(spark, p)(build(p, calls))
    assert(calls.get == 2, "a recorded path gone from disk must be rebuilt")
    assert(new java.io.File(p).isDirectory)
  }

  test("scratch: the root digests the absolute path and keeps the family segment") {
    val root = Files.createTempDirectory("graft_scratch_root")
    val (a, b) = (root.resolve("a/sf_x").toString, root.resolve("b/sf_x").toString)
    assert(Fixtures.scratch(a, "io/csv") != Fixtures.scratch(b, "io/csv"))
    assert(Fixtures.scratch(a, "io/csv") != Fixtures.scratch(a, "cov/csv"))
    assert(Fixtures.scratch(a, "io/csv").endsWith("/io/csv"))
    assert(new java.io.File(Fixtures.scratch(a, "io/csv")).getParentFile.getParentFile
      .getName.startsWith("sf_x-"))
  }

  test("two sf dirs sharing a basename each get their own s16/s18 fixture and stream micro-batches") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_same_basename")
    val corpora = Seq("a" -> 0L, "b" -> 1000L).map { case (tag, idBase) =>
      val dir = root.resolve(tag).resolve("sf_same").toString
      (0L until 20L).map(i => (i, s"$tag-corpus document $i")).toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      (0L until 40L).map(i => (idBase + i, i % 3, new java.sql.Timestamp(1700000000000L + i * 60000L),
          i.toDouble, "view")).toDF("event_id", "user_id", "ts", "value", "event_type")
        .write.parquet(s"$dir/events.parquet")
      (tag, idBase, dir)
    }
    // a, b, then a again: b must not read a's fixtures, nor a b's
    val results = (corpora :+ corpora.head).map { case (tag, idBase, dir) =>
      val texts = Seq("s16_binaryfile_ingest", "s18_manifest_ingest").map { q =>
        IoQueries.queries(q)(spark, dir).select("content_b64").as[String].collect().toSeq
          .map(b => new String(java.util.Base64.getDecoder.decode(b), "UTF-8")).sorted
      }
      val ids = StreamQueries.queries("st1_stream_file_source")(spark, dir)
        .select("entry_id").as[Long].collect().toSeq.sorted
      (tag, idBase, texts, ids)
    }
    results.foreach { case (tag, idBase, texts, ids) =>
      val want = (0L until 20L).map(i => s"$tag-corpus document $i").sorted
      texts.foreach(got => assert(got == want, s"corpus $tag read another corpus's .bin files"))
      assert(ids == (0L until 40L).map(idBase + _), s"corpus $tag streamed another corpus's events")
    }
  }

  test("two sf dirs sharing a basename each seed their own s12 JDBC database") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_same_basename_jdbc")
    val corpora = Seq("a" -> 200L, "b" -> 400L).map { case (tag, n) =>
      val dir = root.resolve(tag).resolve("sf_same").toString
      (1L to n).map(k => (k, k % 7, "O", 100.0 * k, new java.sql.Timestamp(1700000000000L + k * 60000L)))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .write.parquet(s"$dir/orders.parquet")
      (tag, n, dir)
    }
    // a, b, then a again: each must read the orders of its own dir
    (corpora :+ corpora.head).foreach { case (tag, n, dir) =>
      val keys = IoQueries.queries("s12_jdbc_incremental")(spark, dir)
        .select("o_orderkey").as[Long].collect().toSeq
      assert(keys == (101L to n), s"corpus $tag read another corpus's JDBC table")
    }
  }
}
