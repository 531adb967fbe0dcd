package graft.tools

import graft.util.GraftSession

/** Same-JVM timing harness over REGISTERED queries (not part of the
  * driver contract). Every mode warms the named queries up at the
  * smallest fixture (JIT/codegen), drops storage, then times them at
  * `dir`:
  *
  *  - `q q1 q2 …` — bench-style, two timed reps;
  *  - `jobs q1 q2 …` — one timed rep with a per-job wall-time listing;
  *  - `propab key q1 q2 …` — interleaved A/B of `-Dkey=true` vs unset
  *    (e.g. `graft.par.off`, `graft.spread.off`), 3 rounds;
  *  - `confab k=v[;k=v…] q1 q2 …` — interleaved A/B of session-conf
  *    overrides vs the defaults, 3 rounds.
  *
  * Usage: `DebugPerf <dir> <mode> <args…>`.
  */
object DebugPerf {
  private val warmupDir = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode = args.lift(1).getOrElse("")
    require(Set("q", "jobs", "propab", "confab").contains(mode),
      s"usage: DebugPerf <dir> (q|jobs|propab|confab) <args...>; got '$mode'")
    val spark = GraftSession()

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[perf] $label%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }
    def run(n: String): Long = graft.SparkEntry.queries(n)(spark, dir).count()

    // fail fast on a typo'd name: a silently skipped warmup would fold
    // JIT/codegen cost into rep 1 and quietly undermine the same-JVM
    // discipline this tool exists to enforce
    def warmup(names: Seq[String]): Unit = {
      val unknown = names.filterNot(graft.SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      names.foreach { n =>
        try graft.SparkEntry.queries(n)(spark, warmupDir).count()
        catch { case t: Throwable =>
          println(s"[perf] WARNING: warmup of $n threw ${t.getClass.getSimpleName}" +
            s" (${t.getMessage}) — rep-1 timings will include JIT/codegen cost")
        }
      }
      graft.Bench.dropAllStorage(spark)
    }

    // interleaved A/B: each round times every query with `set(false)`
    // then `set(true)`, storage dropped between runs, so host drift
    // cancels across the 3 rounds
    def ab(names: Seq[String], label: Boolean => String)(set: Boolean => Unit): Unit = {
      warmup(names)
      (1 to 3).foreach { rep =>
        println(s"[perf] --- rep $rep ---")
        Seq(false, true).foreach { on =>
          set(on)
          names.foreach { n =>
            time(s"$n ${label(on)}")(println("n=" + run(n)))
            graft.Bench.dropAllStorage(spark)
          }
        }
      }
      set(false)
    }

    mode match {
      case "q" =>
        val names = args.drop(2).toSeq
        warmup(names)
        (1 to 2).foreach { rep =>
          println(s"[perf] --- rep $rep ---")
          names.foreach { n =>
            time(n)(println("n=" + run(n)))
            graft.Bench.dropAllStorage(spark)
          }
        }

      // per-JOB decomposition: ONE timed rep of each query with a
      // SparkListener recording every job's wall time + description —
      // shows where a multi-job gate (index lifecycle, pipeline
      // composites, drains) actually spends its seconds
      case "jobs" =>
        import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
        val names = args.drop(2).toSeq
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit = {
            val desc = js.stageInfos.lastOption.map(si =>
              s"${si.name.takeWhile(_ != '\n')} [${js.stageInfos.size}st/" +
                s"${js.stageInfos.map(_.numTasks).sum}tk]").getOrElse("?")
            starts.put(js.jobId, (System.nanoTime(), desc))
          }
          override def onJobEnd(je: SparkListenerJobEnd): Unit = {
            Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
              rows.add((je.jobId, (System.nanoTime() - t0) / 1e9, desc))
            }
          }
        })
        warmup(names)
        names.foreach { n =>
          rows.clear()
          time(n)(println("n=" + run(n)))
          // listener events are async — let the queue drain
          Thread.sleep(300)
          import scala.jdk.CollectionConverters._
          val all = rows.asScala.toSeq.sortBy(_._1)
          val tot = all.map(_._2).sum
          println(f"[perf]   ${all.size} jobs, sum ${tot}%.2f s")
          all.foreach { case (id, dt, desc) =>
            if (dt >= 0.02)
              println(f"[perf]   job $id%4d ${dt}%6.2f s  ${desc.take(110)}")
          }
          graft.Bench.dropAllStorage(spark)
        }

      case "propab" =>
        val key = args(2)
        ab(args.drop(3).toSeq, on => s"$key=$on") { on =>
          if (on) System.setProperty(key, "true") else System.clearProperty(key)
        }

      case "confab" =>
        val overrides = args(2).split(";").map { kv =>
          val Array(k, v) = kv.split("=", 2); (k, v)
        }.toSeq
        val defaults = overrides.map { case (k, _) =>
          (k, try Some(spark.conf.get(k)) catch { case _: Throwable => None })
        }
        ab(args.drop(3).toSeq, on => s"conf=$on") { on =>
          if (on) overrides.foreach { case (k, v) => spark.conf.set(k, v) }
          else defaults.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None)    => spark.conf.unset(k)
          }
        }
    }
    spark.stop()
  }
}
