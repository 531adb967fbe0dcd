package graft.sources

import graft.sources.AdaptivePlanner._
import org.scalatest.funsuite.AnyFunSuite

class AdaptivePlannerSpec extends AnyFunSuite {

  test("pages: 150-step inclusive ranges covering exactly total") {
    val ps = pages(FetchFilter(region = Some("11")), 310, 150)
    assert(ps.map(_.range) == Seq(PageRange(0, 149), PageRange(150, 299), PageRange(300, 309)))
    assert(ps.map(p => p.range.end - p.range.start + 1).sum == 310)
    assert(pages(FetchFilter(), 0, 150).isEmpty)   // P6 empty guard
    assert(pages(FetchFilter(), 1, 150) == Seq(FetchPartition(FetchFilter(), PageRange(0, 0))))
  }

  test("small regions fetch directly; saturated regions split to departements") {
    val counts: Map[FetchFilter, Long] = Map(
      FetchFilter(region = Some("R1")) -> 200L,
      FetchFilter(region = Some("R2")) -> 5000L,
      FetchFilter(departement = Some("D21")) -> 2000L,
      FetchFilter(departement = Some("D22")) -> 3000L)
    val plan = AdaptivePlanner.plan(counts.withDefaultValue(0L),
      regions = Seq("R1", "R2"),
      departements = Map("D21" -> "R2", "D22" -> "R2"),
      metiers = Seq("M1"), maxPerFilter = 3149, pageSize = 150)
    assert(plan.overflows.isEmpty)
    assert(plan.totalPlanned == 200 + 2000 + 3000)
    // region R1 fetched as region; R2 only via its departements
    assert(plan.partitions.exists(_.filter == FetchFilter(region = Some("R1"))))
    assert(!plan.partitions.exists(_.filter == FetchFilter(region = Some("R2"))))
  }

  test("saturated departement splits to departement×métier; saturated leaf overflows") {
    val counts: Map[FetchFilter, Long] = Map(
      FetchFilter(region = Some("R")) -> 10000L,
      FetchFilter(departement = Some("D")) -> 9000L,
      FetchFilter(departement = Some("D"), codeRome = Some("M1")) -> 3000L,
      FetchFilter(departement = Some("D"), codeRome = Some("M2")) -> 6000L)
    val plan = AdaptivePlanner.plan(counts.withDefaultValue(0L),
      Seq("R"), Map("D" -> "R"), Seq("M1", "M2"))
    assert(plan.overflows ==
      Seq(Overflow(FetchFilter(departement = Some("D"), codeRome = Some("M2")), 6000L)))
    assert(plan.totalPlanned == 3000)
  }

  test("base filter (pushed romeCode) threads through all probes and skips métier level") {
    var probed = List.empty[FetchFilter]
    val count: FetchFilter => Long = { f =>
      probed ::= f
      if (f.departement.isDefined) 4000L else 8000L
    }
    val plan = AdaptivePlanner.plan(count, Seq("R"), Map("D" -> "R"), Seq("M1"),
      base = FetchFilter(codeRome = Some("M9")))
    assert(probed.forall(_.codeRome.contains("M9")))
    // departement saturated with rome base → overflow (no métier split)
    assert(plan.overflows.nonEmpty)
  }

  test("base departement (pushed) starts the plan at the departement level") {
    var probed = List.empty[FetchFilter]
    val counts: Map[FetchFilter, Long] = Map(
      FetchFilter(departement = Some("D")) -> 9000L,
      FetchFilter(departement = Some("D"), codeRome = Some("M1")) -> 3000L,
      FetchFilter(departement = Some("D"), codeRome = Some("M2")) -> 6000L,
      FetchFilter(departement = Some("D"), codeRome = Some("M9")) -> 200L)
    val count: FetchFilter => Long = { f => probed ::= f; counts.getOrElse(f, 0L) }
    val plan = AdaptivePlanner.plan(count, Seq("R"), Map("D" -> "R"), Seq("M1", "M2"),
      base = FetchFilter(departement = Some("D")))
    // no region probe; saturated departement → métier split as usual
    assert(probed.forall(f => f.region.isEmpty && f.departement.contains("D")), probed)
    assert(plan.totalPlanned == 3000)
    assert(plan.overflows ==
      Seq(Overflow(FetchFilter(departement = Some("D"), codeRome = Some("M2")), 6000L)))
    // departement + rome base: one probe, paged directly
    probed = Nil
    val narrow = AdaptivePlanner.plan(count, Seq("R"), Map("D" -> "R"), Seq("M1", "M2"),
      base = FetchFilter(departement = Some("D"), codeRome = Some("M9")))
    assert(probed == List(FetchFilter(departement = Some("D"), codeRome = Some("M9"))))
    assert(narrow.totalPlanned == 200 && narrow.overflows.isEmpty)
  }

  test("count invariant: planned ranges reassemble the probed totals (S4/A3)") {
    val counts: Map[FetchFilter, Long] =
      Map(FetchFilter(region = Some("R")) -> 1234L)
    val plan = AdaptivePlanner.plan(counts.withDefaultValue(0L),
      Seq("R"), Map.empty, Seq.empty)
    assert(plan.totalPlanned == 1234L)
    val ranges = plan.partitions.map(_.range).sortBy(_.start)
    assert(ranges.head.start == 0 && ranges.last.end == 1233)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(b.start == a.end + 1)
      case _ => ()
    }
  }
}
