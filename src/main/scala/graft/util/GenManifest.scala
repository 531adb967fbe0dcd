package graft.util

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The resolved state of a generational index directory: which physical
  * generation directory serves each logical table, plus the metadata a
  * reader needs to probe it (band geometry, append watermark).
  *
  * `gen` is the manifest's own sequence number (strictly increasing —
  * every publish bumps it); `watermark` is the LAST APPEND BATCH number
  * written to the index (0 = the build itself), the version against
  * which tombstones are recorded; `meta` carries index-family metadata
  * (the LSH geometry); `tables` maps logical table name → generation
  * directory name under the index root.
  */
final case class IndexManifest(gen: Long, watermark: Long,
                               meta: Map[String, String],
                               tables: Map[String, String]) {
  def tableDir(indexDir: String, table: String): String =
    s"$indexDir/${tables(table)}"
  def metaInt(key: String): Int = meta(key).toInt
}

/** ATOMIC publication for persisted index maintenance — the generation
  * manifest that replaces the sequential delete+rename swaps the r13
  * compaction/retrain paths used (a reader between the delete and the
  * rename saw a MISSING table; a crash between renames left a
  * MIXED-generation index). The protocol:
  *
  *  - every logical table lives in a GENERATION directory
  *    (`<table>_g<NNNNNN>`) under the index root; maintenance writes a
  *    complete new generation FIRST (reads and writes never share a
  *    path), never mutating the old one;
  *  - ONE manifest file (`manifest-<NNNNNNNNNNNN>`) names the live
  *    generation of every table; publication is a single atomic
  *    create+rename of the NEXT manifest file (rename-to-a-fresh-name
  *    — atomic on HDFS and POSIX alike, and a same-name collision from
  *    a second writer fails loudly instead of interleaving);
  *  - readers resolve the HIGHEST manifest, then read only directories
  *    it names — mid-maintenance they see the complete old generation,
  *    post-publish the complete new one, never a mix and never a
  *    missing table. A crash before publish leaves the old manifest
  *    live and the half-written generation unreferenced (reclaimed by
  *    the next [[gcGenerations]]);
  *  - [[gcGenerations]] runs after EVERY generation write (build,
  *    compact, re-band, retrain and takedown alike) and deletes
  *    generation directories referenced by NEITHER of the newest two
  *    manifests — so a reader that resolved just before a publish keeps
  *    a complete readable generation through one full maintenance cycle
  *    (the documented reader-grace contract; a lease-based protocol
  *    would extend it, out of scope here).
  *
  * Appends do not create generations — they add parquet part-files to
  * the live directories and publish a watermark bump; the manifest
  * file count this accretes is pruned to the newest [[manifestKeep]]
  * on every publish (their table references collapse to at most two
  * distinct generations, so pruning never strands a reader the
  * gc-grace contract protects).
  *
  * The protocol has exactly two entry points, and every persisted-index
  * operation goes through one of them: [[writeGeneration]] (build,
  * compact, re-band, retrain, takedown) and [[appendBatch]] (append).
  * Publishing, GC and directory naming are private to this package, so
  * no operation can hand-roll its own sequence.
  */
object GenManifest {

  private val Prefix = "manifest-"
  /** Manifest FILES retained on publish (generation DIRS are governed
    * by the separate newest-two rule in [[gcGenerations]]).
    */
  val manifestKeep = 8

  private[util] def genDirName(table: String, gen: Long): String = f"${table}_g$gen%06d"

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestFiles(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(Prefix))
      .sortBy(_.getName)

  /** The live manifest, None for a directory never published to. */
  def load(spark: SparkSession, indexDir: String): Option[IndexManifest] = {
    val (fs, root) = fsOf(spark, indexDir)
    manifestFiles(fs, root).lastOption.map(p => parse(readText(fs, p)))
  }

  def required(spark: SparkSession, indexDir: String): IndexManifest =
    load(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"no index manifest under $indexDir — build the index first"))

  /** Absolute path of `table`'s live generation directory. */
  def tablePath(spark: SparkSession, indexDir: String, table: String): String =
    required(spark, indexDir).tableDir(indexDir, table)

  private def parse(text: String): IndexManifest = {
    var gen = 0L; var wm = 0L
    val meta = Map.newBuilder[String, String]
    val tables = Map.newBuilder[String, String]
    text.split('\n').map(_.trim).filter(_.nonEmpty).foreach { line =>
      line.split(' ') match {
        case Array("graft-index-manifest", _) =>
        case Array("gen", v)                  => gen = v.toLong
        case Array("watermark", v)            => wm = v.toLong
        case Array("meta", k, v)              => meta += (k -> v)
        case Array("table", k, v)             => tables += (k -> v)
        case other =>
          throw new IllegalStateException(s"bad manifest line: ${other.mkString(" ")}")
      }
    }
    IndexManifest(gen, wm, meta.result(), tables.result())
  }

  private def render(m: IndexManifest): String = {
    val sb = new StringBuilder("graft-index-manifest 1\n")
    sb.append(s"gen ${m.gen}\nwatermark ${m.watermark}\n")
    m.meta.toSeq.sortBy(_._1).foreach { case (k, v) => sb.append(s"meta $k $v\n") }
    m.tables.toSeq.sortBy(_._1).foreach { case (k, v) => sb.append(s"table $k $v\n") }
    sb.result()
  }

  /** Atomically publish `m` as the live manifest: write the full text
    * to a dot-prefixed temp file, then rename to the versioned name —
    * the ONE atomic step of every maintenance operation. Two writers
    * racing the same gen violate the single-writer-per-operation
    * contract and are DETECTED loudly: the pre-rename exists check
    * catches the common case, and because a POSIX/local rename silently
    * REPLACES an existing target (check-then-rename is not atomic), the
    * publisher re-reads the target after the rename and throws if the
    * surviving content is not its own — the loser learns its publish
    * was clobbered before it runs GC or reports success, so no
    * generation is ever silently dropped. Prunes manifest files beyond
    * the newest [[manifestKeep]].
    */
  private[util] def publish(spark: SparkSession, indexDir: String, m: IndexManifest): Unit = {
    val (fs, root) = fsOf(spark, indexDir)
    if (!fs.exists(root)) fs.mkdirs(root)
    val target = new Path(root, f"$Prefix${m.gen}%012d")
    require(!fs.exists(target),
      s"manifest gen ${m.gen} already published under $indexDir (concurrent writer?)")
    val text = render(m)
    val tmp = new Path(root, s".${target.getName}.inprogress")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    require(fs.rename(tmp, target),
      s"manifest publish rename failed under $indexDir (concurrent writer?)")
    require(readText(fs, target) == text,
      s"manifest gen ${m.gen} publish under $indexDir was clobbered by a " +
        "concurrent writer — single-writer contract violated, state NOT published")
    val files = manifestFiles(fs, root)
    files.dropRight(manifestKeep).foreach(fs.delete(_, false))
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Delete generation directories referenced by NEITHER of the newest
    * `keep` manifests — run by [[writeGeneration]] AFTER publishing, so the
    * previous generation stays readable through one maintenance cycle
    * (the reader-grace contract). Only `*_g<digits>` directories are
    * candidates: foreign files under the index root are never touched.
    */
  private[util] def gcGenerations(spark: SparkSession, indexDir: String, keep: Int = 2): Unit = {
    val (fs, root) = fsOf(spark, indexDir)
    if (!fs.exists(root)) return
    val recent = manifestFiles(fs, root).takeRight(keep)
    val live: Set[String] = recent.flatMap(p => parse(readText(fs, p)).tables.values).toSet
    // {6,}: genDirName zero-pads to 6 but WIDENS past a million
    // generations (every append publishes one) — a {6} anchor would
    // stop collecting exactly when a long-lived index needs it most
    val genDir = "^.*_g\\d{6,}$".r
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && genDir.matches(n) && !live.contains(n))
        fs.delete(st.getPath, true)
    }
  }

  /** NEW GENERATION: write every `tables` frame into its own
    * `<table>_g<gen+1>` directory, then publish ONE manifest naming them
    * and collect stale generations. The frames are built and written
    * CONCURRENTLY through [[Par.all]] (guide §2.6: serial writes pay one
    * driver gap per table; overlapped, each write's tasks back-fill the
    * others' tails, and the driver-side work of building a frame, such
    * as a parquet read's schema job, overlaps too), so they must not
    * read each other's output. Reads and writes
    * never share a path: a reader mid-write resolves the complete old
    * generation; a failure in any lane propagates before the publish,
    * leaving the old manifest live and the half-written directories
    * unreferenced until the next call's GC. The previous generation
    * survives one more call (the reader grace of [[gcGenerations]]).
    *
    * `live` is the manifest the caller resolved its inputs from (None:
    * never published). The new manifest keeps `live`'s watermark, meta
    * and tables, merges `meta`, drops `drop` and names the written
    * tables — or, when `fresh` (build, retrain), is a new index at
    * watermark 0 holding only the written tables and `meta`.
    */
  def writeGeneration(spark: SparkSession, indexDir: String,
                      live: Option[IndexManifest],
                      tables: Seq[(String, () => DataFrame)],
                      meta: Map[String, String] = Map.empty,
                      drop: Set[String] = Set.empty,
                      fresh: Boolean = false): Unit = {
    require(fresh || live.isDefined,
      s"no index manifest under $indexDir — build the index first")
    val gen = live.fold(1L)(_.gen + 1)
    val dirs = tables.map { case (t, _) => t -> genDirName(t, gen) }.toMap
    Par.all(tables.map { case (t, df) =>
      () => df().write.mode("overwrite").parquet(s"$indexDir/${dirs(t)}")
    }: _*)
    publish(spark, indexDir,
      if (fresh) IndexManifest(gen, watermark = 0L, meta, dirs)
      else live.get.copy(gen = gen, meta = live.get.meta ++ meta,
        tables = live.get.tables -- drop ++ dirs))
    gcGenerations(spark, indexDir)
  }

  /** APPEND BATCH: resolve the live manifest, hand it to `tables` with
    * the batch number (watermark + 1 — the version its rows carry and a
    * later takedown hides up to), append the returned frames to the
    * live table directories concurrently through [[Par.all]], then
    * publish the watermark bump. No generation is created and nothing
    * is collected. `tables` runs before any append, so a probe it makes
    * against the live directories never sees this batch's rows.
    */
  def appendBatch(spark: SparkSession, indexDir: String)(
      tables: (IndexManifest, Long) => Seq[(String, DataFrame)]): Unit = {
    val m = required(spark, indexDir)
    val batch = m.watermark + 1
    Par.all(tables(m, batch).map { case (t, df) =>
      () => df.write.mode("append").parquet(m.tableDir(indexDir, t))
    }: _*)
    publish(spark, indexDir, m.copy(gen = m.gen + 1, watermark = batch))
  }
}

/** VERSIONED tombstones, shared by the LSH and IVF persisted indexes:
  * a takedown records (id, wm = the index watermark at takedown time)
  * and hides exactly the id's rows with `batch <= wm` — rows APPENDED
  * AFTER the takedown are visible with no resurrect bookkeeping, which
  * closes the r13 changed-text re-ingest footgun (re-ingesting a
  * tombstoned id used to unhide its PRE-takedown rows too) and removes
  * the per-batch tombstone-table rewrite from the append path
  * entirely.
  */
object Tombstones {

  val table = "tombstones"

  /** The raw takedown ledger (id, wm), None when the index has never
    * seen a takedown. Small by contract (a ledger, not a data table) —
    * callers broadcast it.
    */
  def aggOf(spark: SparkSession, indexDir: String,
            m: IndexManifest): Option[DataFrame] =
    m.tables.get(table).map(d => spark.read.parquet(s"$indexDir/$d"))

  /** Visibility filter: keep `rows` whose id is untombstoned or whose
    * `batch` postdates the id's latest tombstone. One broadcast
    * ANTI-join with a mixed equi+range condition (hidden ⇔ ANY ledger
    * entry covers the row's batch ⇔ batch ≤ the id's max wm — no
    * per-id aggregation, so no shuffle anywhere in the filter); with no
    * tombstones it is the identity (zero plan overhead on the probe
    * path).
    */
  def visible(rows: DataFrame, idCol: String,
              tomb: Option[DataFrame]): DataFrame =
    tomb.fold(rows) { t =>
      val tt = broadcast(
        t.select(col("id").as("_tomb_id"), col("wm").as("_tomb_wm")))
      rows.join(tt,
        rows(idCol) === tt("_tomb_id") && rows("batch") <= tt("_tomb_wm"),
        "left_anti")
    }

  /** Record a takedown of `ids` (first column) at the CURRENT
    * watermark: the ledger (previous entries ∪ the new ones) is written
    * as a new generation ([[GenManifest.writeGeneration]]), so a reader
    * mid-takedown sees the complete previous ledger, never a
    * half-committed file set (a plain parquet append into the live
    * directory would be the one state change outside the old-or-new
    * guarantee). The rewrite is bounded by the ledger — takedown
    * events, not data — by contract. Retirement is immediate on
    * publish — readers hide the rows at probe time; physical
    * reclamation happens at the next compaction/retrain.
    */
  def record(ids: DataFrame, indexDir: String): Unit = {
    val spark = ids.sparkSession
    val m = GenManifest.required(spark, indexDir)
    val newRows = ids.select(col(ids.columns.head).as("id"))
      .withColumn("wm", org.apache.spark.sql.functions.lit(m.watermark))
    val ledger = aggOf(spark, indexDir, m).fold(newRows)(_.unionByName(newRows))
    GenManifest.writeGeneration(spark, indexDir, Some(m), Seq(table -> (() => ledger)))
  }
}
