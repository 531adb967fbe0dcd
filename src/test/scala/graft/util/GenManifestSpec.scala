package graft.util

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}
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

  /** Run `write(1..cycles)` while a reader thread loops `probe`; every
    * probe must pass `check` and none may throw (no missing table, no
    * half-written generation). Between writes, wait until the reader
    * completes two more probes — so any iteration in flight at the NEXT
    * publish+GC started after the previous cycle finished, i.e. no
    * reader is ever more than one generation stale (the documented
    * grace: GC keeps the newest two manifests' directories).
    */
  private def withInterleavedReader[T](cycles: Int, probe: () => T)(
      check: T => Unit)(write: Int => Unit): Unit = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          check(probe())
          reads.incrementAndGet()
        }
      } catch { case t: Throwable => failure.set(t) }
    }, "graft-manifest-race-reader")
    reader.start()
    try (1 to cycles).foreach { i =>
      val before = reads.get()
      write(i)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (reads.get() < before + 2 && failure.get() == null &&
             System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      stop.set(true); reader.join(120000)
    }
    if (failure.get() != null) throw failure.get()
    assert(reads.get() > 0, "reader must have probed at least once")
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
      // every probe must return exactly the invariant pair set
      // (compaction is detection-invariant)
      withInterleavedReader(3, () =>
        Dedup.detectDeltaPairs(delta, "doc_id", "text", idxDir)
          .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet) { got =>
        assert(got == expected, s"mid-compaction probe diverged: $got")
      } { _ => Dedup.compactLshIndex(spark, idxDir, targetFiles = 2) }
    } finally Scratch.rmTree(java.nio.file.Paths.get(idxDir))
  }

  test("IVF reader interleaved with live retrains pairs centroids and lists of one generation") {
    val emb = graft.Tables.embeddings(spark, sf).localCheckpoint(true)
    // two corpora whose indexes answer differently: a probe that paired
    // one generation's centroids with the other's inverted lists would
    // match neither single-generation answer
    val corpora = Seq(emb, emb.filter($"vec_id" % 3 =!= 0).localCheckpoint(true))
    val queries = emb.filter($"vec_id" < 10).localCheckpoint(true)
    val idxDir = tempDir("graft_manifest_ivf_race").toString
    def answer(): Seq[(Long, Long, Long)] =
      Similarity.queryIvfIndexFixedPoint(spark, idxDir, queries,
        "vec_id", "embedding", k = 5).as[(Long, Long, Long)].collect().toSeq
    def retrain(i: Int): Unit = Similarity.retrainIvfIndexFixedPoint(
      corpora(i % 2), "vec_id", "embedding", idxDir)
    try {
      Similarity.buildIvfIndexFixedPoint(corpora(1), "vec_id", "embedding", idxDir)
      val expected = (0 to 1).map { i => retrain(i); answer() }
      assert(expected(0) != expected(1), "the two corpora must answer differently")
      withInterleavedReader(4, () => answer()) { got =>
        assert(expected.contains(got), s"mid-retrain probe matches neither generation: $got")
      } { i => retrain(i - 1) }
    } finally Scratch.rmTree(java.nio.file.Paths.get(idxDir))
  }

  test("takedowns collect stale ledger generations: three takedowns leave at most two on disk") {
    val idxDir = tempDir("graft_ledger_gc").toString
    try {
      Dedup.buildLshIndex(corpus(30), "doc_id", "text", idxDir)
      (1L to 3L).foreach(id => Dedup.tombstoneLshDocs(Seq(id).toDF("id"), idxDir))
      val ledgers = new java.io.File(idxDir).listFiles().map(_.getName)
        .filter(_.matches("tombstones_g\\d{6,}"))
      assert(ledgers.length <= 2,
        s"takedowns must GC superseded ledger generations: ${ledgers.sorted.mkString(", ")}")
    } finally Scratch.rmTree(java.nio.file.Paths.get(idxDir))
  }

  test("a failed lane leaves the old manifest live; the next generation write collects its orphans") {
    val docs = corpus(120).localCheckpoint(true)
    val idxDir = tempDir("graft_manifest_crash").toString
    try {
      Dedup.buildLshIndex(docs.filter($"doc_id" < 80), "doc_id", "text", idxDir)
      val delta = docs.filter($"doc_id" >= 80)
      def probe(): Set[(Long, Long)] =
        Dedup.detectDeltaPairs(delta, "doc_id", "text", idxDir)
          .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      val m0 = GenManifest.required(spark, idxDir)
      val before = probe()
      // a re-band whose bands lane throws while it executes; the sizes
      // lane completes, leaving a written but unpublished directory
      val bands = spark.read.parquet(m0.tableDir(idxDir, "bands"))
      val boom = intercept[Exception] {
        GenManifest.writeGeneration(spark, idxDir, Some(m0),
          Seq("sizes" -> (() => spark.read.parquet(m0.tableDir(idxDir, "sizes"))),
              "bands" -> (() => bands.withColumn("band", coalesce(
                raise_error(lit("injected lane failure")).cast("int"), $"band")))),
          meta = Map("bands" -> "16", "rows" -> "2"))
      }
      assert(Iterator.iterate[Throwable](boom)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("injected lane failure")),
        s"the lane's own failure must propagate: $boom")
      assert(GenManifest.load(spark, idxDir).contains(m0), "a failed write must not publish")
      assert(probe() == before, "readers must keep the pre-operation answer")
      // the next successful generation write (a takedown) GCs the
      // unpublished directories: every generation directory left on
      // disk is named by one of the newest two manifests
      Dedup.tombstoneLshDocs(Seq(0L).toDF("id"), idxDir)
      val m1 = GenManifest.required(spark, idxDir)
      assert(m1.gen == m0.gen + 1)
      val named = (m0.tables.values ++ m1.tables.values).toSet
      val onDisk = new java.io.File(idxDir).listFiles()
        .filter(f => f.isDirectory && f.getName.matches(".*_g\\d{6,}")).map(_.getName).toSet
      assert(onDisk.subsetOf(named), s"orphaned generations: ${onDisk -- named}")
      assert(!onDisk.contains(f"sizes_g${m0.gen + 1}%06d"), "the failed lane's output must be GC'd")
    } finally Scratch.rmTree(java.nio.file.Paths.get(idxDir))
  }
}
