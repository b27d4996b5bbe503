package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.{Bench, CacheScope, SparkEntry}

/** The analytics workload: a fixed list of `SparkEntry.queries`, each
  * drained the way `BenchOne` drains it (plan to RDD, iterate every row,
  * untimed GC before and cache release after). */
object Analytics {

  def run(ctx: Ctx, r: Result): Unit = {
    val names = ctx.queries
    val outDir = s"${ctx.out}/analytics"
    // Set-up: one untimed pass that writes every result for the oracle
    // check; it is also the JIT warm-up of every plan.
    val failedWrites = ctx.warm { () =>
      names.filterNot { q =>
        try {
          SparkEntry.queries(q)(ctx.spark, ctx.dataDir).write.mode("overwrite")
            .parquet(s"$outDir/$q")
          true
        } catch { case e: Throwable => r.note(s"$q failed in the check pass: $e"); false }
        finally CacheScope.release()
      }
    }
    val w = new java.io.PrintWriter(s"$outDir/oracle_sql.json", "UTF-8")
    try w.println(Json.write(names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    finally w.close()
    r.attempted += names.size
    r.failed += failedWrites.size

    val order = new Random(ctx.seed).shuffle(names)
    // A fixed number of passes, not as many as fit in `ctx.seconds` (two
    // take about 10 s on 4 cores): each query's slowest wall must be the
    // slowest of the same number of executions in every run.
    val walls = timedPasses(ctx, r, order, tagged = false, passes = 2)
    latencies(r, "", walls)
    val passes = walls.size.toDouble / names.size
    r.detail ++= Map("analytics.passes" -> passes,
      "analytics.total_s" -> walls.map(_._2).sum / passes) ++
      walls.groupMap(_._1)(_._2).map { case (q, ws) => s"analytics.$q.wall_s" -> Stats.median(ws) }

    if (ctx.trace) {
      val traced = ctx.traced(() => timedPasses(ctx, r, order, tagged = true, passes = 1))
      latencies(r, "traced.", traced)
      val L = r.layers
      val total = traced.map(_._2).sum
      traced.foreach { case (q, s) => L(s"analytics.$q.wall_s") = s }
      Bench.Families.foreach(f => L(s"analytics.$f.s") =
        traced.filter(t => Bench.familyOf(t._1) == f).map(_._2).sum)
      val b = ctx.tasks
      L("analytics.plan_ms") = Trace.get("analytics.plan_ms")
      L("analytics.tasks") = b.total(_.tasks)
      L("analytics.shuffle_bytes") = b.total(_.shuffleBytes)
      L("analytics.spill_bytes") = b.total(_.spillBytes)
      L("analytics.gc_ms") = b.total(_.gcMs)
      L("analytics.cpu_util") = b.total(_.cpuNs) / 1e9 / (total * ctx.cpus)
      ctx.engine(r)
    }
  }

  /** Each query counts once in both latency figures, whatever its cost:
    * the geometric mean over queries of each one's median wall, and of
    * each one's slowest wall. */
  private def latencies(r: Result, prefix: String, walls: Seq[(String, Double)]): Unit = {
    val perQuery = walls.groupMap(_._1)(_._2).values
    r.detail ++= Map(s"${prefix}analytics.geomean_s" -> geomean(perQuery.map(Stats.median)),
      s"${prefix}analytics.geomean_slowest_s" -> geomean(perQuery.map(_.max)),
      s"${prefix}analytics.queries_per_s" -> walls.size / walls.map(_._2).sum)
  }

  private def geomean(xs: Iterable[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** `passes` whole passes over `order`; returns (query, wall seconds)
    * per execution. */
  private def timedPasses(ctx: Ctx, r: Result, order: Seq[String], tagged: Boolean,
                          passes: Int): Seq[(String, Double)] = {
    val walls = ArrayBuffer.empty[(String, Double)]
    (1 to passes).foreach { _ =>
      order.foreach { q =>
        if (tagged) ctx.spark.sparkContext.setLocalProperty("perfbench.tag", q)
        System.gc()
        val s0 = System.nanoTime()
        try {
          val df = SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
          try df.queryExecution.toRdd.foreach(_ => ())
          finally CacheScope.release()
          val s1 = System.nanoTime()
          walls += q -> (s1 - s0) / 1e9
          Trace.add("analytics.plan_ms", PlanTimeListener.planMs(df.queryExecution))
          Trace.span("analytics.query", s0, s1, "-", q)
        } catch { case e: Throwable =>
          r.attempted += 1; r.failed += 1
          r.note(s"$q failed: $e")
        }
      }
    }
    ctx.spark.sparkContext.setLocalProperty("perfbench.tag", null)
    walls.toSeq
  }
}
