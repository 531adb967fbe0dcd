package graft

import org.apache.spark.sql.functions._

/** Driver-contract guards: entry smoke, every registered query runs
  * non-empty on the smallest fixture, oracle keys point at real queries,
  * and the scan plans keep pushdown/broadcast properties (SURVEY §4).
  */
class EntrySpec extends SparkSpec {

  test("entry() returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and returns rows on sf0.001") {
    val failed = QueryMapRun.results.collect { case (name, Left(err)) => s"$name: $err" }
    assert(failed.isEmpty, s"failed queries:\n${failed.mkString("\n")}")
    val empty = QueryMapRun.results.collect { case (name, Right(r)) if r.rows == 0 => name }
    assert(empty.isEmpty, s"empty results: $empty")
  }

  test("every oracle key has a matching query") {
    val dangling = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(dangling.isEmpty, s"oracle without query: $dangling")
  }

  test("variant extraction (q65) agrees with from_json (q25) row for row") {
    val viaStruct  = operators.Relational.fromJsonEvents(spark, sf)
      .collect().toSeq.map(r => (r.get(0), r.getLong(1)))
    val viaVariant = operators.Relational.variantEvents(spark, sf)
      .collect().toSeq.map(r => (r.get(0), r.getLong(1)))
    assert(viaStruct == viaVariant)
  }

  test("bitmap distinct (q67) equals a plain countDistinct per group") {
    val got = operators.Relational.bitmapDistinct(spark, sf)
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    val want = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_custs"))
      .orderBy(col("o_orderpriority"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    assert(got == want)
  }

  test("filter + projection are pushed into the parquet scan (P1/P2)") {
    val plan = operators.Relational.filterProject(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("o_orderpriority"), plan)
    // pruned read schema: only the 4 projected columns are read
    assert(!plan.contains("o_orderdate"), plan)
  }

  test("dimension joins broadcast (J1); no shuffle of the fact side for dims") {
    val plan = operators.Relational.customersPerRegion(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = operators.Relational.topKOrders(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("pricing summary stays inside WholeStageCodegen with partial aggregation") {
    val df = operators.Relational.pricingSummary(spark, sf)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), plan)      // map-side combine
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(plan).isDefined, plan) // *(n) = codegen span
  }

  test("salted aggregation plans two hash-aggregate phases over the salt") {
    val plan = operators.Skew.saltedReturnflagAgg(spark, sf)
      .queryExecution.executedPlan.toString
    // partial over (key, salt), final over key: ≥2 HashAggregate pairs
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
    // the content-hash salt expression feeds the first grouping
    assert(plan.contains("pmod(xxhash64"), plan)
  }

  test("bm25/text-match broadcast the one-row stats frame; top-k is TakeOrdered") {
    val plan = operators.TextAnalysis.bm25Rank(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // 1-row stats × corpus
    assert(plan.contains("TakeOrderedAndProject"), plan)   // top-50 without full sort
  }

  test("q65 VARIANT: scan reads only props; extraction runs map-side before the partial agg") {
    val df = operators.Relational.variantEvents(spark, sf)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    // column pruning reaches the parquet scan THROUGH the
    // parse_json → variant_get chain: only the one string column is read
    assert(plan.contains("ReadSchema: struct<props:string>"), plan)
    // the typed path extraction runs once, in the map-side project (k is
    // the grouping key of a partial aggregate — no post-shuffle re-parse)
    assert(plan.toLowerCase.contains("variant_get"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("exact-jaccard pairs read the shingled frame from a one-time materialization") {
    val plan = operators.Dedup.jaccardExactPairs(spark, sf)
      .queryExecution.executedPlan.toString
    // the checkpointed shingle frame enters the cross join as an RDD
    // scan — the shingle expression cannot re-run per pair
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"), plan)
  }

  test("q71 LATERAL decorrelates to a window + join (no per-row nested loop)") {
    val plan = operators.Relational.lateralTopN(spark, sf)
      .queryExecution.executedPlan.toString
    // DecorrelateInnerQuery rewrites the correlated ORDER BY+LIMIT
    // into a partitioned rank filter joined on the correlation key —
    // one distributed plan, not |nation| subquery executions
    assert(plan.contains("WindowGroupLimit") || plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q73 WITH RECURSIVE runs as UnionLoop with depth bounded by key width") {
    val df = operators.Relational.recursiveChain(spark, sf)
    assert(df.queryExecution.optimizedPlan.toString.contains("UnionLoop"),
      df.queryExecution.optimizedPlan.toString)
    val rows = df.collect()
    val n = spark.read.parquet(s"$sf/customer.parquet").count()
    // every customer reaches a root; depth = digits(custkey) - 1
    assert(rows.length == n)
    assert(rows.forall(r => r.getLong(1) < 10))
    assert(rows.forall { r =>
      r.getInt(2) == r.getLong(0).toString.length - 1
    })
  }

  test("q72 HOF kernels agree with a driver-side recompute on one order") {
    import spark.implicits._
    val qtys = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_orderkey") === 1L)
      .select(col("l_quantity").cast("long")).as[Long].collect().sorted
    val r = operators.Relational.hofArrays(spark, sf)
      .filter(col("l_orderkey") === 1L).head()
    assert(r.getAs[Long]("n_lines") == qtys.length)
    assert(r.getAs[Long]("total_qty") == qtys.sum)
    assert(r.getAs[Long]("sum_sq") == qtys.map(q => q * q).sum)
    assert(r.getAs[Long]("tv_steps") == (if (qtys.isEmpty) 0 else qtys.max - qtys.min))
  }

  test("q75 gap sessionization equals the session_window operator session-for-session") {
    val viaSql = operators.Relational.gapSessionize(spark, sf)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val viaOp = streaming.Streams.userSessions(Tables.events(spark, sf))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(viaSql == viaOp)
  }

  test("q74 forward fill: planted nulls repaired with the latest prior value") {
    val rows = operators.Relational.forwardFill(spark, sf).collect()
    val n = rows.length
    assert(n == spark.read.parquet(s"$sf/events.parquet").count())
    // every filled value on a planted-null row equals some prior
    // real value of the same user; non-null source rows pass through
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 7 != 0)
        assert(r.getDouble(3) == ev(id), s"passthrough broken for $id")
    }
  }

  test("q81 linear interpolation matches a driver-side exact recomputation") {
    // recompute every interpolated value in plain Scala with the SAME
    // expression tree (exact integer micros, one IEEE division) — the
    // distributed window result must be bit-identical
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = ev.groupBy(_._2).map { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      val vs = sorted.map(r => if (r._1 % 7 == 0) None else Some(r._4))
      val expect = sorted.indices.map { i =>
        vs(i) match {
          case Some(v) => Some(v)
          case None =>
            val prev = (i - 1 to 0 by -1).find(j => vs(j).isDefined)
            val next = (i + 1 until sorted.length).find(j => vs(j).isDefined)
            (prev, next) match {
              case (None, None) => None
              case (Some(p), None) => Some(vs(p).get)
              case (None, Some(n)) => Some(vs(n).get)
              case (Some(p), Some(n)) =>
                val (pu, nu, u0) = (sorted(p)._3, sorted(n)._3, sorted(i)._3)
                if (nu == pu) Some(vs(p).get)
                else Some(vs(p).get + (vs(n).get - vs(p).get) *
                  ((u0 - pu).toDouble / (nu - pu).toDouble))
            }
        }
      }
      sorted.map(_._1).zip(expect).toMap
    }.reduce(_ ++ _)
    val got = operators.Relational.linearInterpolate(spark, sf).collect()
    assert(got.length == ev.length)
    got.foreach { r =>
      val want = byUser(r.getLong(0))
      val g = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(g == want, s"event ${r.getLong(0)}: got $g want $want")
    }
  }

  test("q82 fixed-point PageRank matches a driver-side integer reference") {
    val edges = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), (col("l_suppkey") + 1000000L).as("supp"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val bi = edges ++ edges.map(_.swap)
    val outdeg = bi.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val nodes = outdeg.keySet
    var r = nodes.map(_ -> operators.Graph.Scale).toMap
    for (_ <- 1 to 3) {
      val inflow = bi.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / outdeg(src) }.sum
      }
      r = nodes.map(n => n ->
        (operators.Graph.Teleport +
          operators.Graph.DampNum * inflow.getOrElse(n, 0L) / operators.Graph.DampDen))
        .toMap
    }
    val want = r.toSeq.sortBy { case (n, rk) => (-rk, n) }.take(20)
    val got = operators.Graph.pageRank(spark, sf)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSeq
    assert(got == want)
  }

  test("q83 bounded-hop BFS matches a driver-side reference") {
    val edges = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), (col("l_suppkey") + 1000000L).as("supp"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val bi = edges ++ edges.map(_.swap)
    val adj = bi.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var dist = adj.keySet.filter(_ < 10L).map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val next = dist.toSeq.flatMap { case (n, h) =>
        adj.getOrElse(n, Array.empty[Long]).map(_ -> (h + 1)) }
      dist = (dist.toSeq ++ next).groupBy(_._1)
        .map { case (n, hs) => n -> hs.map(_._2).min }
    }
    val want = dist.toSeq.sortBy(_._1)
    val got = operators.Graph.bfsHops(spark, sf)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSeq
    assert(got == want)
    // seeds stay at hop 0; everything reached is within the bound
    assert(got.filter(_._1 < 10L).forall(_._2 == 0L))
    assert(got.forall(_._2 <= 3L))
  }

  test("q90 association rules recompute from first principles on one pair") {
    import spark.implicits._
    val rows = operators.Graph.assocRules(spark, sf).collect()
    assert(rows.nonEmpty)
    // structural invariants on every rule
    rows.foreach { r =>
      val (pc, ca, cb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(pc >= 2L && pc <= math.min(ca, cb))
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0) // confidence
      assert(r.getDouble(6) > 0.0)                          // lift
    }
    // hand-recount the first rule off the raw table
    val r0 = rows.head
    val (pa, pb) = (r0.getLong(0), r0.getLong(1))
    val baskets = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (ok, xs) => ok -> xs.map(_._2).toSet }
    val n = baskets.size.toDouble
    val ca = baskets.count(_._2.contains(pa)).toDouble
    val cb = baskets.count(_._2.contains(pb)).toDouble
    val pc = baskets.count(b => b._2.contains(pa) && b._2.contains(pb)).toDouble
    assert(r0.getLong(2) == pc.toLong && r0.getLong(3) == ca.toLong)
    assert(math.abs(r0.getDouble(5) - pc / ca) < 1e-12)
    assert(math.abs(r0.getDouble(6) - pc * n / (ca * cb)) < 1e-12)
  }

  test("q91 transition rows sum to 1 per from-type and conserve steps") {
    import spark.implicits._
    val rows = operators.Relational.transitionMatrix(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (from, rs) =>
      val total = rs.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-9, s"$from rows sum to $total")
    }
    // each user contributes (events - 1) transitions
    val ev = Tables.events(spark, sf).select($"user_id").as[Long].collect()
    val wantSteps = ev.groupBy(identity).map(_._2.length - 1L).sum
    assert(rows.map(_.getLong(2)).sum == wantSteps)
  }

  test("q95 last-touch attribution matches a driver-side timeline replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3),
        BigDecimal(r.getDouble(4)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._3.getTime, r._4))
      var channel: String = null
      val credits = scala.collection.mutable.ArrayBuffer.empty[(String, BigDecimal)]
      ordered.foreach { r =>
        if (r._2 == "purchase") { if (channel != null) credits += ((channel, r._5)) }
        else channel = r._2
      }
      credits
    }.groupBy(_._1).map { case (ch, xs) =>
      (ch, xs.size.toLong, xs.map(_._2).sum.toDouble)
    }.toSet
    val got = operators.Relational.lastTouchAttribution(spark, sf)
      .as[(String, Long, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q97 cascade ledger reconciles; q98 merged read nulls the pre-evolution generation") {
    val ledger = operators.Relational.cascadeDelete(spark, sf).collect()
    assert(ledger.length == 3)
    ledger.foreach { r =>
      assert(r.getLong(1) - r.getLong(2) == r.getLong(3), r.toString)
      assert(r.getLong(2) > 0, s"cascade deleted nothing in ${r.getString(0)}")
    }
    val forgetN = Tables.customer(spark, sf)
      .filter(col("c_custkey") % 97 === 0).count()
    assert(ledger.find(_.getString(0) == "customer").get.getLong(2) == forgetN)

    val evo = operators.Layout.schemaEvolution(spark, sf).collect()
    val evenN = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 2 === 0).count()
    // the null o_year group is exactly the v1 (pre-evolution) files
    assert(evo.find(_.isNullAt(0)).get.getLong(1) == evenN)
    assert(evo.count(!_.isNullAt(0)) > 1, "multiple evolved year groups expected")
  }

  test("q84 KMV estimates stay within 3σ of exact (σ ≈ 1/√(k−2), k=64)") {
    val rows = operators.Relational.kmvDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getDouble(1)
      val exact = r.getLong(2).toDouble
      if (exact < 64) assert(est == exact, s"${r.getString(0)}: degenerate rule broken")
      else {
        val relErr = math.abs(est - exact) / exact
        assert(relErr <= 3.0 / math.sqrt(62.0),
          s"${r.getString(0)}: est=$est exact=$exact relErr=$relErr")
      }
    }
  }

  test("q85 funnel steps are monotone decreasing; q86 offset-0 equals cohort size") {
    val funnel = operators.Relational.funnelSteps(spark, sf).collect()
    assert(funnel.length == 3)
    val ns = funnel.sortBy(_.getLong(0)).map(_.getLong(2))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2), ns.mkString(","))
    assert(ns(2) > 0)
    val ret = operators.Relational.retentionCohorts(spark, sf).collect()
    // every user is active on their first-seen day: the offset-0 row of
    // each cohort counts exactly the cohort's members
    val cohortSizes = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(org.apache.spark.sql.functions.min(to_date(col("ts"))).as("c"))
      .groupBy(date_format(col("c"), "yyyy-MM-dd").as("cohort_day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val zero = ret.filter(_.getLong(1) == 0L)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(zero == cohortSizes)
    assert(ret.forall(_.getLong(1) >= 0L))
  }

  test("t24 TV distances match an exact BigInt recomputation and sit in [0,1]") {
    import graft.functions.TextFns
    val toks = Tables.documents(spark, sf)
      .select(col("lang"), TextFns.tokens(TextFns.normalizeText(col("text"))).as("tk"))
      .collect().flatMap(r =>
        r.getSeq[String](1).filter(_.nonEmpty).map(t => (r.getString(0), t)))
    val langs = Seq("de", "en", "es", "fr")
    val counts = toks.filter(p => langs.contains(p._1))
      .groupBy(identity).map { case ((l, t), xs) => (l, t) -> BigInt(xs.length) }
    val totals = langs.map(l =>
      l -> counts.collect { case ((`l`, _), n) => n }.sum).toMap
    val vocab = counts.keySet.map(_._2)
    val got = operators.TextAnalysis.domainShift(spark, sf).collect()
    assert(got.length == 6)
    got.foreach { row =>
      val (a, b) = (row.getString(0), row.getString(1))
      val s = vocab.toSeq.map { t =>
        val na = counts.getOrElse((a, t), BigInt(0))
        val nb = counts.getOrElse((b, t), BigInt(0))
        (na * totals(b) - nb * totals(a)).abs
      }.sum
      val tv = s.toDouble / (2.0 * totals(a).toDouble * totals(b).toDouble)
      assert(row.getDouble(2) == tv, s"$a/$b: got ${row.getDouble(2)} want $tv")
      assert(row.getDouble(2) >= 0.0 && row.getDouble(2) <= 1.0)
      val k = vocab.count(t =>
        counts.contains((a, t)) || counts.contains((b, t)))
      assert(row.getLong(3) == k.toLong)
    }
  }

  test("q23 HLL estimates stay within 5% of the exact per-group cardinalities") {
    // quantifies the rows-only exemption: approx_count_distinct is
    // engine-specific, but its error against the exact distinct counts
    // (the q16/q67-style anchors) must stay inside the sketch's design
    // envelope — default rsd (~2.3%) widened to 5%, and the 0.01-rsd
    // column held to 2%
    import spark.implicits._
    val approx = operators.Relational.approxDistinctParts(spark, sf)
      .as[(String, Long, Long)].collect()
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("p"),
        countDistinct(col("l_suppkey")).as("s"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(approx.nonEmpty && approx.length == exact.size)
    approx.foreach { case (flag, ap, as_) =>
      val (ep, es) = exact(flag)
      assert(math.abs(ap - ep).toDouble / ep <= 0.05,
        s"$flag parts: approx=$ap exact=$ep")
      assert(math.abs(as_ - es).toDouble / es <= 0.02,
        s"$flag supps: approx=$as_ exact=$es")
    }
  }

  test("t21 bigram novelty invariants: hapax ≤ n, familiarity ≥ n, novelty ∈ [0,1]") {
    val rows = operators.TextAnalysis.bigramNovelty(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_bigrams")
      val hapax = r.getAs[Long]("n_hapax")
      val fam = r.getAs[Long]("sum_bigram_freq")
      val nov = r.getAs[Double]("novelty")
      assert(hapax >= 0 && hapax <= n)
      assert(fam >= n) // each position's corpus count ≥ 1
      assert(nov >= 0.0 && nov <= 1.0)
      assert(math.abs(nov - hapax.toDouble / n) < 1e-15)
    }
  }

  test("q89 KMV overlap matrix matches a driver-side sketch-algebra recompute") {
    import java.security.MessageDigest
    def h60(x: Long): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(x.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val k = 64
    val sets: Map[String, Set[Long]] = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_custkey")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
    def est(hs: Set[Long]): Double = {
      val sk = hs.toSeq.sorted.take(k)
      if (sk.size < k) sk.size.toDouble
      else (k - 1).toDouble * 1152921504606846976.0d / sk.last.toDouble
    }
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      ha = sets(a).map(h60); hb = sets(b).map(h60)
    } yield (a, b, est(ha ++ hb),
        math.max(est(ha) + est(hb) - est(ha ++ hb), 0.0),
        sets(a).intersect(sets(b)).size.toLong))
      .toSeq.sortBy(t => (t._1, t._2))
    val got = operators.Relational.kmvOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toSeq
    assert(got == want)
    // estimates must actually track the truth on the fixture: the
    // union estimator inherits q84's 3σ bound
    got.foreach { case (a, b, estU, _, _) =>
      val exactU = sets(a).union(sets(b)).size.toDouble
      if (exactU >= k)
        assert(math.abs(estU - exactU) / exactU <= 3.0 / math.sqrt(62.0), s"$a-$b")
    }
  }

  test("q87 degree-oriented triangle count equals a driver-side naive count") {
    // naive reference: collected support-≥2 co-purchase edges,
    // id-ordered a<b<c scan
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = op.groupBy(_._1).valuesIterator.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    // NB: .collect{case (e, _) => e} on a Map would REBUILD a Map keyed
    // by edge.src (tuple results re-enter as entries) — keySet it is
    }.toSeq.groupBy(identity).filter(_._2.size >= 2).keySet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val byA = edges.groupBy(_._1)
    val triangles = edges.iterator.map { case (a, b) =>
      byA.getOrElse(b, Set.empty).count { case (_, c) => edges.contains((a, c)) }
    }.sum
    val got = operators.Graph.triangleCount(spark, sf).collect().head
    assert(got.getAs[Long]("n_nodes") == nodes.size.toLong)
    assert(got.getAs[Long]("n_edges") == edges.size.toLong)
    assert(got.getAs[Long]("n_triangles") == triangles.toLong)
    assert(triangles > 0L, "fixture should contain triangles or the gate is vacuous")
  }

  test("t25 rare-token score matches an exact driver-side frequency recompute") {
    import graft.functions.TextFns
    // pull the engine's own token stream (one source of truth for the
    // normalize+split semantics), recompute freqs/scores exactly
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), TextFns.tokens(TextFns.normalizeText(col("text"))).as("t"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).filter(_.nonEmpty))
    val freq = toks.flatMap(_._2).groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val nTotal = toks.iterator.map(_._2.length.toLong).sum
    val want = toks.filter(_._2.nonEmpty).map { case (id, ts) =>
      val cntSum = ts.iterator.map(freq).sum
      (id, ts.length.toLong, cntSum, cntSum.toDouble / ts.length.toDouble / nTotal.toDouble)
    }.sortBy(_._1).toSeq
    val got = operators.TextAnalysis.rareTokenScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want)
    // the skew split must not depend on headK: identical result with a
    // tiny head (nearly everything through the shuffle-join tail)
    val gotSmallHead = operators.TextAnalysis.rareTokenScore(spark, sf, headK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(gotSmallHead == want)
  }
}
