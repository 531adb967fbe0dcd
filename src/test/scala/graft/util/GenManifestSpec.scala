package graft.util

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The atomic-publication contract of [[GenManifest]]: a reader
  * interleaved with index maintenance always observes a COMPLETE
  * generation — old before the publish, new after, never a mix and
  * never a missing table — and stale generations are reclaimed only
  * after their one-cycle reader grace expires.
  */
class GenManifestSpec extends SparkSpec {
  import spark.implicits._

  // 3-doc near-dup clusters spanning a history/delta split (the
  // DedupSpec lifecycle corpus shape)
  private def corpus(n: Int) = {
    val bodies = (0 until n / 3).map(i =>
      s"document body number $i with enough distinct words to shingle " +
        s"properly and a cluster-specific tail ${i * 37} ${i * 91} shared by all copies")
    (0 until n).map(i => (i.toLong, bodies(i % (n / 3)))).toDF("doc_id", "text")
  }

  test("manifest round-trip: publish is atomic-rename, load resolves the highest gen") {
    val dir = tempDir("graft_manifest_rt").toString
    try {
      assert(GenManifest.load(spark, dir).isEmpty)
      val m1 = IndexManifest(1L, 0L, Map("bands" -> "8", "rows" -> "4"),
        Map("hashes" -> "hashes_g000001"))
      GenManifest.publish(spark, dir, m1)
      assert(GenManifest.load(spark, dir).contains(m1))
      val m2 = m1.copy(gen = 2L, watermark = 3L)
      GenManifest.publish(spark, dir, m2)
      assert(GenManifest.load(spark, dir).contains(m2), "highest gen wins")
      // same-gen double publish = two writers racing: must fail loudly
      intercept[IllegalArgumentException](GenManifest.publish(spark, dir, m2))
    } finally Scratch.rmTree(java.nio.file.Paths.get(dir))
  }

  test("takedowns publish atomically: each record is a fresh ledger generation behind a manifest flip") {
    val docs = corpus(90)
    val idxDir = tempDir("graft_ledger_atomic").toString
    try {
      Dedup.buildLshIndex(docs, "doc_id", "text", idxDir)
      val m0 = GenManifest.required(spark, idxDir)
      Dedup.tombstoneLshDocs(Seq(1L).toDF("id"), idxDir)
      val m1 = GenManifest.required(spark, idxDir)
      assert(m1.gen == m0.gen + 1 && m1.tables.contains(Tombstones.table))
      val firstLedgerDir = m1.tables(Tombstones.table)
      Dedup.tombstoneLshDocs(Seq(2L).toDF("id"), idxDir)
      val m2 = GenManifest.required(spark, idxDir)
      // the second takedown rewrote the ledger as a NEW generation (a
      // plain append into the live dir would be the one state change a
      // concurrent reader could catch half-committed)
      assert(m2.tables(Tombstones.table) != firstLedgerDir,
        "each takedown must publish a fresh ledger generation")
      val ledger = spark.read.parquet(s"$idxDir/${m2.tables(Tombstones.table)}")
        .select($"id").as[Long].collect().toSet
      assert(ledger == Set(1L, 2L), "the rewrite must union the prior entries")
    } finally Scratch.rmTree(java.nio.file.Paths.get(idxDir))
  }

  test("compaction publishes old-or-new: a pre-publish reader keeps a complete generation") {
    val docs = corpus(120)
    val idxDir = tempDir("graft_manifest_gc").toString
    try {
      Dedup.buildLshIndex(docs.filter($"doc_id" < 80), "doc_id", "text", idxDir)
      val m0 = GenManifest.required(spark, idxDir)
      // a reader that resolved BEFORE the compaction: pin its physical
      // paths now, read them after the publish
      val oldBands = m0.tableDir(idxDir, "bands")
      val preCount = spark.read.parquet(oldBands).count()
      Dedup.compactLshIndex(spark, idxDir, targetFiles = 2)
      val m1 = GenManifest.required(spark, idxDir)
      assert(m1.gen == m0.gen + 1, "compaction must publish a new manifest gen")
      assert(m1.tables("bands") != m0.tables("bands"),
        "compaction must write a NEW generation directory")
      // reader grace: the old generation is still complete and readable
      // through one maintenance cycle (GC keeps the newest two manifests)
      assert(spark.read.parquet(oldBands).count() == preCount,
        "pre-publish reader must still see its complete old generation")
      // a second maintenance cycle expires the grace: gen-0 dirs go away
      Dedup.compactLshIndex(spark, idxDir, targetFiles = 2)
      assert(!new java.io.File(oldBands).exists(),
        "stale generation must be GC'd once its reader grace expires")
      // and at every point the CURRENT manifest resolves complete tables
      val m2 = GenManifest.required(spark, idxDir)
      Seq("hashes", "bands", "sizes").foreach { t =>
        assert(new java.io.File(m2.tableDir(idxDir, t)).exists(), s"$t missing")
      }
    } finally Scratch.rmTree(java.nio.file.Paths.get(idxDir))
  }

  test("reader interleaved with live compactions never observes a missing or mixed index") {
    val docs = corpus(150).localCheckpoint(true)
    val idxDir = tempDir("graft_manifest_race").toString
    try {
      Dedup.buildLshIndex(docs.filter($"doc_id" < 100), "doc_id", "text", idxDir)
      val delta = docs.filter($"doc_id" >= 100).localCheckpoint(true)
      val expected = Dedup.detectDeltaPairs(delta, "doc_id", "text", idxDir)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      assert(expected.nonEmpty, "fixture must detect cross-split pairs")
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      // reader thread: re-resolve + probe in a loop while the writer
      // compacts underneath it — every probe must return exactly the
      // invariant pair set (compaction is detection-invariant), and
      // none may throw (no missing table, no half-written generation)
      val reader = new Thread(() => {
        try {
          while (!stop.get()) {
            val got = Dedup.detectDeltaPairs(delta, "doc_id", "text", idxDir)
              .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
            assert(got == expected, s"mid-compaction probe diverged: $got")
            reads.incrementAndGet()
          }
        } catch { case t: Throwable => failure.set(t) }
      }, "graft-manifest-race-reader")
      reader.start()
      // between compactions, wait until the reader completes two more
      // probes — so any iteration in flight at the NEXT publish+GC
      // started after the previous cycle finished, i.e. no reader is
      // ever more than one generation stale (the documented grace:
      // GC keeps the newest two manifests' directories)
      try (1 to 3).foreach { _ =>
        val before = reads.get()
        Dedup.compactLshIndex(spark, idxDir, targetFiles = 2)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (reads.get() < before + 2 && failure.get() == null &&
               System.nanoTime() < deadline) Thread.sleep(20)
      } finally {
        stop.set(true); reader.join(120000)
      }
      if (failure.get() != null) throw failure.get()
      assert(reads.get() > 0, "reader must have probed at least once")
    } finally Scratch.rmTree(java.nio.file.Paths.get(idxDir))
  }
}
