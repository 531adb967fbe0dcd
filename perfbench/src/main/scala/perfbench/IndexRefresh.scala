package perfbench

import java.io.File

import graft.operators.{Dedup, Similarity}
import graft.util.GenManifest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** `index_refresh`: the persisted near-dup (LSH) and ANN (fixed-point
  * IVF) indexes kept current on a fixed schedule per round:
  * append, lookup, takedown, append, lookup, maintain.
  *  - `append`: one delta batch of documents and vectors;
  *  - `lookup`: a held-out probe slice against the LSH index and the
  *    first ten vectors against the IVF index (read-only);
  *  - `takedown`: tombstone a seeded pick of visible documents/vectors;
  *  - `maintain`: compact both indexes.
  * The documents past the base come in slots of an append batch and
  * a probe slice, one slot per append; the slot after the last append
  * holds the final probe.
  */
class IndexRefresh(spark: SparkSession, a: Args) extends Workload {
  import IndexRefresh._
  import spark.implicits._

  private val lshDir = s"${a.out}/index/lsh"
  private val ivfDir = s"${a.out}/index/ivf"
  private val drainDir = s"${a.out}/index/drain"
  private lazy val docs = spark.read.parquet(s"${a.data}/index_docs.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val vecs = spark.read.parquet(s"${a.data}/index_vecs.parquet")
    .select(col("vec_id"), col("embedding"))
  private def docRange(lo: Long, hi: Long): DataFrame =
    docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
  private def vecRange(lo: Long, hi: Long): DataFrame =
    vecs.filter(col("vec_id") >= lo && col("vec_id") < hi)

  // the benchmark's own model of what each index holds
  private val visibleDocs = scala.collection.mutable.LinkedHashSet[Long]()
  private val visibleVecs = scala.collection.mutable.LinkedHashSet[Long]()
  private var appends = 0
  private var lookups = 0
  private var takedowns = 0
  // end of the LSH half of each append, for per-layer attribution
  private val lshEndMs = scala.collection.mutable.Map[Int, Long]()

  val warmupRounds = 1

  def setup(): Unit = {
    Dedup.buildLshIndex(docRange(0, NBaseDocs), "doc_id", "text", lshDir)
    Similarity.buildIvfIndexFixedPoint(vecRange(0, NBaseVecs), "vec_id", "embedding", ivfDir)
    visibleDocs ++= 0L until NBaseDocs
    visibleVecs ++= 0L until NBaseVecs
  }

  private def appendOp(): Op = {
    val k = appends; appends += 1
    val (lo, hi) = (slotLo(k), slotLo(k) + BatchDocs)
    val (vlo, vhi) = (NBaseVecs + k * BatchVecs, NBaseVecs + (k + 1) * BatchVecs)
    Op("append", s"append_$k", () => {
      Dedup.appendLshDetect(docRange(lo, hi), "doc_id", "text", lshDir, drainDir)
      lshEndMs(k) = System.currentTimeMillis()
      Similarity.appendIvfIndexFixedPoint(vecRange(vlo, vhi), "vec_id", "embedding", ivfDir)
    }, _ => {
      visibleDocs ++= lo.toLong until hi
      visibleVecs ++= vlo.toLong until vhi
      Map("append" -> k, "docs" -> Seq(lo, hi), "vecs" -> Seq(vlo, vhi))
    })
  }

  private def lookupOp(): Op = {
    val j = lookups; lookups += 1
    val lo = probeLo(j)
    Op("lookup", s"lookup_$j", () => {
      val pairs = Dedup.detectDeltaPairs(docRange(lo, lo + ProbeDocs), "doc_id", "text", lshDir)
        .select(col("doc_a"), col("doc_b")).collect()
      val knn = Similarity.queryIvfIndexFixedPoint(spark, ivfDir, vecRange(0, 10),
        "vec_id", "embedding", k = 5).collect()
      (pairs, knn)
    }, out => {
      val (pairs, knn) = out.asInstanceOf[(Array[Row], Array[Row])]
      Map("lookup" -> j, "probe" -> Seq(lo, lo + ProbeDocs),
        "pairs" -> pairs.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq,
        "knn" -> knn.map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    })
  }

  private def takedownOp(): Op = {
    val t = takedowns; takedowns += 1
    val rng = new scala.util.Random(a.seed * 7919L + t)
    val d = rng.shuffle(visibleDocs.toSeq).take(TakedownDocs).sorted
    val v = rng.shuffle(visibleVecs.filter(_ >= 10).toSeq).take(TakedownVecs).sorted
    Op("takedown", s"takedown_$t", () => {
      Dedup.tombstoneLshDocs(d.toDF("id"), lshDir)
      Similarity.tombstoneIvfVecs(v.toDF("id"), ivfDir)
    }, _ => {
      visibleDocs --= d
      visibleVecs --= v
      Map("takedown" -> t, "docs" -> d, "vecs" -> v)
    })
  }

  private def maintainOp(): Op = Op("maintain", "maintain", () => {
    Dedup.compactLshIndex(spark, lshDir, targetFiles = 8)
    Similarity.compactIvfIndexFixedPoint(spark, ivfDir, targetFiles = 4)
  })

  def round(r: Int): Seq[Op] = Seq(() => appendOp(), () => lookupOp(), () => takedownOp(),
    () => appendOp(), () => lookupOp(), () => maintainOp()).view.map(_()).toSeq

  /** The final-state parity: a held-out slice detected against the
    * maintained index and against a from-scratch build over the visible
    * documents.
    */
  def finish(): Map[String, Any] = {
    val lo = probeLo(appends)
    val probe = docRange(lo, lo + ProbeDocs)
    def pairs(dir: String) = Dedup.detectDeltaPairs(probe, "doc_id", "text", dir)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val maintained = pairs(lshDir)
    val freshDir = s"${a.out}/index/fresh"
    Dedup.buildLshIndex(docs.filter(col("doc_id").isin(visibleDocs.toSeq: _*)),
      "doc_id", "text", freshDir)
    val fresh = pairs(freshDir)
    Map("drain_dir" -> drainDir, "final_probe" -> Seq(lo, lo + ProbeDocs),
      "final_pairs" -> maintained.toSeq.sorted.map(p => Seq(p._1, p._2)),
      "final_matches_fresh_build" -> (maintained == fresh),
      "d03_sql" -> graft.SparkEntry.oracleSql("d03_minhash_lsh"),
      "ivf_sql" -> Similarity.ivfKmeansOracleSql(trainMax = NBaseVecs))
  }

  def layerMetrics(tracer: Tracer, timed: Seq[OpRec]): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val appendParts = timed.filter(_.kind == "append").map { o =>
      val lshEnd = lshEndMs(o.info("append").asInstanceOf[Int])
      val js = tracer.jobsIn(o.startMs, lshEnd)
      val (lanes, detect) = js.partition(_.callLong.contains("graft.util.Par"))
      val lastJobEnd = js.map(_.endMs).maxOption.getOrElse(o.startMs)
      (tracer.unionMs(tracer.spans(detect)).toDouble,
        tracer.unionMs(tracer.spans(lanes)).toDouble, (lshEnd - lastJobEnd).toDouble)
    }
    val overlap = timed.filter(o => o.kind == "append" || o.kind == "maintain").map { o =>
      val sp = tracer.spans(tracer.jobsIn(o.startMs, o.endMs))
      val u = tracer.unionMs(sp)
      if (u == 0) 1.0 else sp.map { case (s, e) => e - s }.sum.toDouble / u
    }
    val dirs = Seq(lshDir, ivfDir)
    def files(d: File): Seq[File] =
      Option(d.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val genDir = "^.*_g\\d{6,}$".r
    val gens = dirs.flatMap(d => Option(new File(d).listFiles()).map(_.toSeq).getOrElse(Nil))
      .count(f => f.isDirectory && genDir.matches(f.getName))
    val live = dirs.flatMap { d =>
      GenManifest.required(spark, d).tables.values.toSeq
        .flatMap(t => files(new File(s"$d/$t"))).filter(_.getName.endsWith(".parquet"))
    }
    Map("operators.detect_ms" -> mean(appendParts.map(_._1)),
      "operators.index_write_ms" -> mean(appendParts.map(_._2)),
      "operators.publish_ms" -> mean(appendParts.map(_._3)),
      "util.lane_overlap" -> mean(overlap),
      "util.generations_on_disk" -> gens.toDouble,
      "util.live_files" -> live.size.toDouble,
      "util.index_bytes" -> dirs.flatMap(d => files(new File(d))).map(_.length).sum.toDouble) ++
      Kernels.probe(spark, a)
  }
}

object IndexRefresh {
  // input layout over the 5,000 fixture documents and 2,000 vectors
  // (run.py caps the rounds so that every slot fits)
  val NBaseDocs = 2000
  val BatchDocs = 250
  val ProbeDocs = 100
  val NBaseVecs = 400
  val BatchVecs = 100
  val TakedownDocs = 20
  val TakedownVecs = 10
  def slotLo(k: Int): Long = NBaseDocs + k.toLong * (BatchDocs + ProbeDocs)
  def probeLo(j: Int): Long = slotLo(j) + BatchDocs
}
