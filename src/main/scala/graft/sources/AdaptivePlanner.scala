package graft.sources

/** The reference's adaptive scan planning (SURVEY §2.1 S3/S4, §2.2 P5/P6,
  * §4 "adaptive partitioning"), as a pure, unit-testable function.
  *
  * The France Travail API caps any filter combination at `maxPerFilter`
  * retrievable offers (MAX_OFFRES=3149, `ingestion-elasticsearch.py:8`)
  * and serves `pageSize` (150) offers per range request. The reference
  * count-probes each region; saturated regions are split to
  * departements; saturated departements to departement×métier; a
  * saturated departement×métier is logged-and-skipped
  * (`ingestion-elasticsearch.py:209-211`) — here surfaced as an
  * [[Overflow]] record (dead-letter, never silent loss).
  *
  * This is exactly a scan-time analog of AQE skew-split: probe
  * statistics, split hot keys recursively, emit bounded partitions.
  * The output feeds DSv2 `planInputPartitions`.
  */
object AdaptivePlanner {

  /** A filter combination pushed into the API query URL (P4). */
  case class FetchFilter(region: Option[String] = None,
                         departement: Option[String] = None,
                         codeRome: Option[String] = None)

  /** Inclusive offer range `start-end` (the API's `range` param). */
  case class PageRange(start: Int, end: Int)

  /** One schedulable unit: pull `range` of `filter`'s result list. */
  case class FetchPartition(filter: FetchFilter, range: PageRange)

  /** A saturated leaf filter that cannot be fully fetched. */
  case class Overflow(filter: FetchFilter, total: Long)

  case class Plan(partitions: Seq[FetchPartition], overflows: Seq[Overflow]) {
    def totalPlanned: Long =
      partitions.map(p => (p.range.end - p.range.start + 1).toLong).sum
  }

  /** Page a filter with `total` results into ceil(total/pageSize)
    * partitions of `range=a-b` (`ingestion-elasticsearch.py:159-167`).
    */
  def pages(filter: FetchFilter, total: Long, pageSize: Int): Seq[FetchPartition] = {
    if (total <= 0) Seq.empty // P6 empty-relation short-circuit
    else (0L until total by pageSize.toLong).map { start =>
      val end = math.min(start + pageSize - 1, total - 1)
      FetchPartition(filter, PageRange(start.toInt, end.toInt))
    }
  }

  /** Recursive region → departement → departement×métier split driven by
    * a count probe (A1/A2). `departements` maps departement code → its
    * region code (the nested d['region']['code'] of the référentiel);
    * `metiers` is the ROME code list.
    *
    * `base` carries externally-pushed predicates (DSv2 filter pushdown)
    * into every probed filter. When `base.departement` is set the plan
    * starts at the departement level (`regions` and `departements` are
    * not used). When `base.codeRome` is set the departement×métier level
    * is skipped (the métier dimension is spent) and saturated
    * departements overflow directly.
    */
  def plan(count: FetchFilter => Long,
           regions: Seq[String],
           departements: Map[String, String],
           metiers: Seq[String],
           maxPerFilter: Int = 3149,
           pageSize: Int = 150,
           base: FetchFilter = FetchFilter()): Plan = {
    val parts = Seq.newBuilder[FetchPartition]
    val over = Seq.newBuilder[Overflow]

    def departement(d: String): Unit = {
      val fd = base.copy(region = None, departement = Some(d))
      val totalD = count(fd)
      if (totalD <= 0) ()
      else if (totalD <= maxPerFilter) parts ++= pages(fd, totalD, pageSize)
      else if (base.codeRome.isDefined) over += Overflow(fd, totalD)
      else {
        // J2: departement × métier matrix
        metiers.foreach { m =>
          val fm = FetchFilter(departement = Some(d), codeRome = Some(m))
          val totalM = count(fm)
          if (totalM <= 0) ()
          else if (totalM <= maxPerFilter) parts ++= pages(fm, totalM, pageSize)
          else over += Overflow(fm, totalM) // skip-and-log, never silent
        }
      }
    }

    base.departement match {
      case Some(d) => departement(d)
      case None => regions.foreach { r =>
        val fr = base.copy(region = Some(r))
        val totalR = count(fr)
        if (totalR <= 0) () // skip empty
        else if (totalR <= maxPerFilter) parts ++= pages(fr, totalR, pageSize)
        // J1: departements of this region (the departement⋈region equi-join)
        else departements.collect { case (d, reg) if reg == r => d }.toSeq.sorted
          .foreach(departement)
      }
    }
    Plan(parts.result(), over.result())
  }
}
