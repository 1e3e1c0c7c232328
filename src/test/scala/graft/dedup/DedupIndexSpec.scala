package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  // small corpus with engineered near-dups: 1↔11 and 2↔12 share most
  // grams; 3 and 13 are unrelated
  private def corpusDocs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten eleven twelve"),
    (3L, "completely unrelated content about volcanoes and geology today")
  ).toDF("doc_id", "text")

  private def batchDocs = Seq(
    (11L, "alpha beta gamma delta epsilon zeta eta theta iota NOPE"),
    (12L, "one two three four five six seven eight nine ten eleven NOPE"),
    (13L, "fresh novel text with no overlap to anything indexed before")
  ).toDF("doc_id", "text")

  test("fit/query: batch near-dups found against the store, survivors clean") {
    val path = tmpDir() + "/idx"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    val p = DedupIndex.params(spark, path)
    assert(p == DedupIndex.Params(3, 64, 32, 42L))
    val hits = DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((11L, 1L), (12L, 2L)))
    val survivors = DedupIndex.dedupBatch(batchDocs, "doc_id", "text", path, 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(13L))
  }

  test("append extends the searchable set; excludeSelf drops identity hits") {
    val path = tmpDir() + "/idx2"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    DedupIndex.append(batchDocs, "doc_id", "text", path)
    // re-query the batch itself: identity hits excluded, cross hits remain
    val hits = DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((11L, 1L), (12L, 2L)))
    val withSelf = DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4,
      excludeSelf = false)
      .where(col("query_id") === col("index_id")).count()
    assert(withSelf == 3L)
  }

  test("compact folds the append subdirectories into one base write; queries identical") {
    val path = tmpDir() + "/idx_compact"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    // three appends → three extra subdirs per table (the ingestStream
    // small-file shape)
    (0 until 3).foreach { i =>
      DedupIndex.append(
        Seq((100L + i, s"novel append batch number $i with its own words"))
          .toDF("doc_id", "text"),
        "doc_id", "text", path, tag = s"b$i")
    }
    val before = DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet
    val gBefore = graft.util.AtomicStore.resolve(spark, path)
    assert(new java.io.File(s"$gBefore/bands").listFiles().count(_.isDirectory) == 4)
    DedupIndex.compact(spark, path)
    val gAfter = graft.util.AtomicStore.resolve(spark, path)
    assert(gAfter != gBefore, "compaction publishes a fresh generation")
    assert(new java.io.File(s"$gAfter/bands").listFiles()
      .count(_.isDirectory) == 1, "one base subdir after compaction")
    assert(new java.io.File(s"$gAfter/grams").listFiles()
      .count(_.isDirectory) == 1)
    // same rows, same Params → identical query results; row counts intact
    assert(DedupIndex.params(spark, path) == DedupIndex.Params(3, 64, 32, 42L))
    val after = DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet
    assert(after == before, "compaction must not change query results")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$gAfter/grams").count() == 6, "3 corpus + 3 appended docs")
    // a killed compaction (any stage) leaves readers on the old generation
    graft.util.AtomicStore.failpoint =
      l => if (l == "dedup:bands") throw new RuntimeException("killed at dedup:bands")
    try intercept[RuntimeException] { DedupIndex.compact(spark, path) }
    finally graft.util.AtomicStore.failpoint = _ => ()
    assert(graft.util.AtomicStore.resolve(spark, path) == gAfter)
    assert(DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet == before)
    // at-least-once REPLAY of a folded batch (ingestStream re-running a
    // batch whose tagged subdir the fold absorbed): must be skipped via
    // the folded-tags ledger, not duplicated into a fresh subdir
    DedupIndex.append(
      Seq((100L, "novel append batch number 0 with its own words"))
        .toDF("doc_id", "text"),
      "doc_id", "text", path, tag = "b0")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$gAfter/grams").count() == 6,
      "replayed folded batch must not double its rows")
    assert(new java.io.File(s"$gAfter/bands").listFiles()
      .count(_.isDirectory) == 1)
    // a genuinely NEW tagged batch still appends normally
    DedupIndex.append(
      Seq((200L, "a brand new fifth batch of totally fresh words"))
        .toDF("doc_id", "text"),
      "doc_id", "text", path, tag = "b9")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$gAfter/grams").count() == 7)
  }

  test("refit with different params never serves stale cached Params " +
    "(write() invalidates the per-JVM cache directly — mtime-independent)") {
    val path = tmpDir() + "/idx_refit"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    assert(DedupIndex.params(spark, path) == DedupIndex.Params(3, 64, 32, 42L))
    // immediate refit: on coarse-mtime or object-store-like filesystems the
    // directory mtime may not change — invalidation must not depend on it
    DedupIndex.write(corpusDocs, "doc_id", "text", path,
      n = 4, numHashes = 32, bands = 16, seed = 7L)
    assert(DedupIndex.params(spark, path) == DedupIndex.Params(4, 32, 16, 7L))
    // and the query path computes signatures with the NEW params: hits
    // still verify (bands written and probed under the same seed/geometry)
    val hits = DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((11L, 1L), (12L, 2L)))
  }

  test("store equality across partitionings: bands written at 1 partition " +
    "join bands computed at 7") {
    val path = tmpDir() + "/idx3"
    DedupIndex.write(corpusDocs.repartition(1), "doc_id", "text", path)
    val hits = DedupIndex.query(batchDocs.repartition(7), "doc_id", "text",
      path, 0.4).select("query_id", "index_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((11L, 1L), (12L, 2L)))
  }

  test("scan-local band buckets are value-identical to the LIVE aggregate " +
    "form (bucket equality IS the persisted-index format) — incl. " +
    "empty-gram docs and bands > numHashes") {
    // real docs PLUS a <3-token doc (empty gram set → NULL signature):
    // both forms must emit ZERO rows for it, not 32 constant-bucket rows
    val docs = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .unionByName(Seq((999999L, "too short")).toDF("doc_id", "text"))
    val grams = Dedup.gramHashSets(docs, "doc_id", "text", 3)
    for (numHashes <- Seq(64, 16)) { // 16 < 32 bands: empty bands omitted
      val sigs = Dedup.minhashSignatures(grams, "doc_id", numHashes, seed = 42L)
        .persist()
      try {
        val bands = 32
        val now = Dedup.bandBucketsLocal(sigs, "doc_id", bands)
        val legacy = Dedup.bandBuckets(sigs, "doc_id", bands)
        assert(now.count() == legacy.count())
        assert(now.join(legacy, Seq("doc_id", "band", "bucket")).count()
          == legacy.count())
        assert(now.where(col("doc_id") === 999999L).count() == 0)
        // and the scan-local form plans no aggregate exchange
        val plan = now.queryExecution.executedPlan.toString
        assert(!plan.contains("HashAggregate"),
          s"banding must be scan-local, got:\n$plan")
      } finally { sigs.unpersist(); () }
    }
  }

  test("ingestStream: a later micro-batch dedups against an earlier " +
    "batch's survivors, not just the fitted base") {
    val path = tmpDir() + "/live"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    val batchDir = java.nio.file.Files.createTempDirectory("graft-live-b")
    // batch 0: doc 21 (novel); batch 1: doc 31 = near-dup of 21, plus 32
    Seq((21L, "completely fresh sentence about astronomy stars and comets tonight"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(batchDir.resolve("b00").toString)
    Seq(
      (31L, "completely fresh sentence about astronomy stars and comets NOPE"),
      (32L, "yet another unrelated batch document with plenty new words"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(batchDir.resolve("b01").toString)
    java.nio.file.Files.walk(batchDir.resolve("b00")).forEach(p =>
      { p.toFile.setLastModified(1700000000000L); () })
    java.nio.file.Files.walk(batchDir.resolve("b01")).forEach(p =>
      { p.toFile.setLastModified(1700000060000L); () })
    val survOut = tmpDir() + "/surv"
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$batchDir/b*")
    val sq = DedupIndex.ingestStream(stream, "doc_id", "text", path,
        survOut, threshold = 0.4)
      .option("checkpointLocation", tmpDir())
      .start()
    try sq.processAllAvailable() finally sq.stop()
    val surv = spark.read.option("recursiveFileLookup", "true")
      .parquet(survOut).as[Long].collect().toSet
    // 21 survives (novel vs base); 31 is dropped ONLY because 21 was
    // appended mid-stream; 32 survives
    assert(surv == Set(21L, 32L))
  }

  test("delete masks immediately, compact reclaims, delete→re-add upserts") {
    val path = tmpDir() + "/idx_del"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    def hits() = DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet
    assert(hits() == Set((11L, 1L), (12L, 2L)))
    // takedown of doc 1: the near-dup hit disappears IMMEDIATELY (mask),
    // no postings rewrite yet
    DedupIndex.delete(Seq(1L).toDF("doc_id"), "doc_id", path)
    assert(hits() == Set((12L, 2L)))
    val gBefore = graft.util.AtomicStore.resolve(spark, path)
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$gBefore/grams").count() == 3, "rows still on disk")
    // compact: fresh generation, dead rows physically gone, tombstones
    // dropped, answers unchanged
    DedupIndex.compact(spark, path)
    val gAfter = graft.util.AtomicStore.resolve(spark, path)
    assert(gAfter != gBefore)
    assert(!new java.io.File(s"$gAfter/tombstones").exists())
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$gAfter/grams").count() == 2, "deleted doc reclaimed")
    assert(hits() == Set((12L, 2L)))
    // re-add doc 1 (same id, same text): plain append — searchable again
    DedupIndex.append(corpusDocs.where(col("doc_id") === 1L),
      "doc_id", "text", path)
    assert(hits() == Set((11L, 1L), (12L, 2L)))
    // delete WITHOUT manual compact, then re-add: the id collision
    // auto-compacts first (upsert), so the new rows serve
    DedupIndex.delete(Seq(2L).toDF("doc_id"), "doc_id", path)
    assert(hits() == Set((11L, 1L)))
    DedupIndex.append(corpusDocs.where(col("doc_id") === 2L),
      "doc_id", "text", path)
    assert(hits() == Set((11L, 1L), (12L, 2L)))
    assert(!new java.io.File(
      s"${graft.util.AtomicStore.resolve(spark, path)}/tombstones").exists(),
      "collision append must have folded the tombstones away")
  }

  test("compact never records a crashed append's tag as folded " +
    "(orphan grams excluded; the at-least-once replay rewrites cleanly)") {
    val path = tmpDir() + "/idx_orphan"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    DedupIndex.append(
      Seq((100L, "first complete append batch with plenty of words here"))
        .toDF("doc_id", "text"), "doc_id", "text", path, tag = "b0")
    // crash batch b1 between its grams and bands writes — the exact
    // window writeRows documents
    graft.util.AtomicStore.failpoint =
      l => if (l == "dedup:bands") throw new RuntimeException("kill b1")
    try intercept[RuntimeException] {
      DedupIndex.append(
        Seq((101L, "second batch that will crash before its bands land"))
          .toDF("doc_id", "text"), "doc_id", "text", path, tag = "b1")
    } finally graft.util.AtomicStore.failpoint = _ => ()
    val g0 = graft.util.AtomicStore.resolve(spark, path)
    assert(new java.io.File(s"$g0/grams/b1").exists())
    assert(!new java.io.File(s"$g0/bands/b1").exists(), "orphan shape")
    DedupIndex.compact(spark, path)
    val g1 = graft.util.AtomicStore.resolve(spark, path)
    // the orphan's rows are NOT in the fold, and its tag is NOT recorded
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$g1/grams").where(col("id") === 101L).count() == 0)
    // … so the at-least-once replay of b1 is NOT absorbed: it rewrites
    // both tables and the document becomes searchable (the data-loss
    // regression this test pins)
    DedupIndex.append(
      Seq((101L, "second batch that will crash before its bands land"))
        .toDF("doc_id", "text"), "doc_id", "text", path, tag = "b1")
    val hits = DedupIndex.query(
      Seq((201L, "second batch that will crash before its bands land NOPE"))
        .toDF("doc_id", "text"), "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((201L, 101L)), "replayed batch must be searchable")
    // while the COMPLETE b0 was folded and its replay is absorbed
    DedupIndex.append(
      Seq((100L, "first complete append batch with plenty of words here"))
        .toDF("doc_id", "text"), "doc_id", "text", path, tag = "b0")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"${graft.util.AtomicStore.resolve(spark, path)}/grams")
      .where(col("id") === 100L).count() == 1, "folded replay absorbed once")
  }

  test("a bands dir that EXISTS but never job-committed (_temporary-only " +
    "or partial files without _SUCCESS) is not folded as complete") {
    val path = tmpDir() + "/idx_uncommitted"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    DedupIndex.append(
      Seq((100L, "a complete batch whose tag must fold and absorb replays"))
        .toDF("doc_id", "text"), "doc_id", "text", path, tag = "b0")
    // stage the WIDE crash window the dir-existence proxy misses: Spark
    // creates the output dir (holding only _temporary/) at job START, so
    // a kill anywhere inside the bands job leaves bands/t present but
    // uncommitted. Run a complete append, then doctor it back to that
    // on-disk shape: b1 = _temporary-only, b2 = partial data file with
    // no _SUCCESS (a kill inside commitJob's file-move loop).
    DedupIndex.append(
      Seq((101L, "batch killed early its bands dir holds only temporary"))
        .toDF("doc_id", "text"), "doc_id", "text", path, tag = "b1")
    DedupIndex.append(
      Seq((102L, "batch killed inside the commit loop partial bands files"))
        .toDF("doc_id", "text"), "doc_id", "text", path, tag = "b2")
    val g0 = graft.util.AtomicStore.resolve(spark, path)
    def doctor(tag: String, keepOnePart: Boolean): Unit = {
      val d = new java.io.File(s"$g0/bands/$tag")
      val parts = d.listFiles().filter(f =>
        f.getName.startsWith("part-") || f.getName == "_SUCCESS" ||
          f.getName.endsWith(".crc"))
      val keep = if (keepOnePart)
        parts.find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).toSet
      else Set.empty[java.io.File]
      parts.filterNot(keep).foreach(_.delete())
      new java.io.File(d, "_temporary/0").mkdirs()
    }
    doctor("b1", keepOnePart = false)
    doctor("b2", keepOnePart = true)
    DedupIndex.compact(spark, path)
    val g1 = graft.util.AtomicStore.resolve(spark, path)
    // neither uncommitted tag folded or was recorded; the complete one was
    val folded = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$g1/grams")
    assert(folded.where(col("id") === 100L).count() == 1, "complete folds")
    assert(folded.where(col("id").isin(101L, 102L)).count() == 0,
      "uncommitted tags' rows stay out of base")
    // the at-least-once replays are NOT absorbed: both rewrite cleanly
    // and their documents become searchable — the data loss this pins
    Seq(("b1", 101L, "batch killed early its bands dir holds only temporary"),
        ("b2", 102L, "batch killed inside the commit loop partial bands files"))
      .foreach { case (tag, id, text) =>
        DedupIndex.append(Seq((id, text)).toDF("doc_id", "text"),
          "doc_id", "text", path, tag = tag)
        val hits = DedupIndex.query(
          Seq((900L + id, text + " NOPE")).toDF("doc_id", "text"),
          "doc_id", "text", path, 0.4)
          .select("index_id").as[Long].collect().toSet
        assert(hits.contains(id), s"replayed $tag must be searchable")
      }
  }

  test("'base' tag is rejected; numbered stream tags collapse into a " +
    "bounded highwater ledger across repeated folds") {
    val path = tmpDir() + "/idx_ledger"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    intercept[IllegalArgumentException] {
      DedupIndex.append(batchDocs, "doc_id", "text", path, tag = "base")
    }
    // a tag that would nest directories or forge the ledger's highwater
    // line is rejected up front
    intercept[IllegalArgumentException] {
      DedupIndex.append(batchDocs, "doc_id", "text", path, tag = "b<=9")
    }
    intercept[IllegalArgumentException] {
      DedupIndex.append(batchDocs, "doc_id", "text", path, tag = "a/b")
    }
    def ledger(): Seq[String] = {
      val g = graft.util.AtomicStore.resolve(spark, path)
      val f = java.nio.file.Paths.get(s"$g/_folded_tags")
      if (!java.nio.file.Files.exists(f)) Seq.empty
      else new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    }
    // two fold cycles over six stream batches + one random tag
    (0 to 2).foreach { i =>
      DedupIndex.append(
        Seq((100L + i, s"stream batch $i brings its own novel words indeed"))
          .toDF("doc_id", "text"), "doc_id", "text", path, tag = s"b$i")
    }
    DedupIndex.append(
      Seq((900L, "a randomly tagged adhoc append with distinct words"))
        .toDF("doc_id", "text"), "doc_id", "text", path, tag = "radhoc")
    DedupIndex.compact(spark, path)
    assert(ledger().sorted == Seq("b<=2", "radhoc"),
      s"after first fold: ${ledger()}")
    (3 to 5).foreach { i =>
      DedupIndex.append(
        Seq((100L + i, s"stream batch $i brings its own novel words indeed"))
          .toDF("doc_id", "text"), "doc_id", "text", path, tag = s"b$i")
    }
    DedupIndex.compact(spark, path)
    // the ledger did NOT grow with the batch count: still two lines, the
    // highwater just advanced; 'base' is never recorded
    assert(ledger().sorted == Seq("b<=5", "radhoc"),
      s"after second fold: ${ledger()}")
    // replays below the highwater are absorbed; new numbered tags pass
    val g = graft.util.AtomicStore.resolve(spark, path)
    def gramCount() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$g/grams").count()
    val n0 = gramCount()
    DedupIndex.append(
      Seq((103L, "stream batch 3 brings its own novel words indeed"))
        .toDF("doc_id", "text"), "doc_id", "text", path, tag = "b3")
    assert(gramCount() == n0, "b3 replay absorbed by the highwater")
    DedupIndex.append(
      Seq((106L, "stream batch 6 brings its own novel words indeed"))
        .toDF("doc_id", "text"), "doc_id", "text", path, tag = "b6")
    assert(gramCount() == n0 + 1, "b6 is new and appends")
    // the random tag is still absorbed explicitly
    DedupIndex.append(
      Seq((900L, "a randomly tagged adhoc append with distinct words"))
        .toDF("doc_id", "text"), "doc_id", "text", path, tag = "radhoc")
    assert(gramCount() == n0 + 1, "folded random tag replay absorbed")
  }

  test("a crashed delete's _temporary-only tombstones dir reads as absent " +
    "(no schema-inference brick on query/append/compact)") {
    val path = tmpDir() + "/idx_crashdel"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    val g = graft.util.AtomicStore.resolve(spark, path)
    assert(new java.io.File(s"$g/tombstones/_temporary").mkdirs())
    val hits = DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((11L, 1L), (12L, 2L)), "remnant must not mask or brick")
    DedupIndex.append(batchDocs.where(col("doc_id") === 13L),
      "doc_id", "text", path) // the collision probe must not brick either
    DedupIndex.compact(spark, path)
    assert(DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet
      == Set((11L, 1L), (12L, 2L)))
  }

  test("a delete racing a live ingestStream batch REJECTS on the mutation " +
    "lease; between batches it succeeds") {
    val path = tmpDir() + "/idx_lease"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    // the batch's hold (ingestStream wraps each foreachBatch in
    // withMutationLease — same code path), paused mid-batch
    val inBatch = new java.util.concurrent.CountDownLatch(1)
    val finishBatch = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.util.AtomicStore.withMutationLease(spark, path,
          owner = "DedupIndex.ingestStream:b4") {
        inBatch.countDown()
        finishBatch.await()
      })
    holder.start()
    inBatch.await()
    try {
      val e = intercept[IllegalStateException] {
        DedupIndex.delete(Seq(1L).toDF("doc_id"), "doc_id", path)
      }
      assert(e.getMessage.contains("ingestStream:b4"))
      intercept[IllegalStateException] { DedupIndex.compact(spark, path) }
    } finally { finishBatch.countDown(); holder.join() }
    DedupIndex.delete(Seq(1L).toDF("doc_id"), "doc_id", path) // released
    val hits = DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((12L, 2L)))
    assert(!new java.io.File(s"$path/_mutation_lease").exists())
  }

  test("query plan broadcasts the batch side (corpus bands never shuffle)") {
    val path = tmpDir() + "/idx4"
    DedupIndex.write(corpusDocs, "doc_id", "text", path)
    val plan = DedupIndex.query(batchDocs, "doc_id", "text", path, 0.4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("store probes resolve their FileSystem from the SESSION's Hadoop " +
    "conf (session-scoped fs options reach the dedup store)") {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[RecordingLocalFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    RecordingLocalFs.calls.clear()
    val path = tmpDir() + "/idx_sessionfs"
    def docs(rows: (Long, String)*) =
      s.createDataFrame(rows).toDF("doc_id", "text")
    DedupIndex.write(docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven twelve")),
      "doc_id", "text", path)
    DedupIndex.delete(docs((2L, "")).select("doc_id"), "doc_id", path)
    val gen = graft.util.AtomicStore.resolve(s, path)
    val hits = DedupIndex.query(docs(
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota NOPE"),
      (12L, "one two three four five six seven eight nine ten eleven NOPE")),
      "doc_id", "text", path, 0.4)
      .select("query_id", "index_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((11L, 1L)))
    DedupIndex.compact(s, path)
    val calls = RecordingLocalFs.calls.toArray.map(_.toString).toSet
    // probes only the dedup store itself makes: Spark's own reads never
    // size a directory or look for the folded-tags ledger, so these two
    // cannot reach the session fs through Spark's reads
    val missing = Seq(s"getContentSummary $gen/bands",
      s"exists $gen/_folded_tags").filterNot(calls.contains)
    assert(missing.isEmpty, "probes that bypassed the session fs")
  }
}

/** LocalFileSystem that records its `exists` and `getContentSummary`
  * probes as "op path".
  */
class RecordingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.Path
  private def rec(op: String, p: Path): Unit =
    RecordingLocalFs.calls.add(s"$op ${p.toUri.getPath}")
  override def exists(p: Path): Boolean = { rec("exists", p); super.exists(p) }
  override def getContentSummary(p: Path) = {
    rec("getContentSummary", p); super.getContentSummary(p)
  }
}

object RecordingLocalFs {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
