package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.query.QueryApi
import graft.sources.{BlockStores, ServingMirrors}
import graft.streaming.{BlockStreamPipeline, Dialect, Migrations}

/** The ingest workload: closed-loop block catch-up, then open-loop live
  * ingest with served reads beside it. */
object Ingest {
  private val StoreName = "perfbench"
  private var dbSeq = 0

  /** A fresh, migrated Derby database under the run's work directory,
    * reached through the pass-through driver when tracing. */
  def freshDb(ctx: Ctx, traced: Boolean): String = {
    dbSeq += 1
    val url = s"derby:${ctx.work}/db/d$dbSeq;create=true"
    Migrations.migrate("jdbc:" + url, Dialect.Derby)
    (if (traced) TracingDriver.Prefix else "jdbc:") + url
  }

  private def ckpt(ctx: Ctx): String = { dbSeq += 1; s"${ctx.work}/ckpt/c$dbSeq" }

  /** The heights `[from, until)` a batch read; the first batch of a query
    * reports no start offset and starts at the query's start height. */
  private def heights(p: StreamingQueryProgress, startHeight: Long): (Long, Long) =
    p.sources.headOption.map(s =>
      (Option(s.startOffset).map(_.toLong).getOrElse(startHeight), s.endOffset.toLong))
      .getOrElse((startHeight, startHeight))

  private def triggerMs(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  private def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => p.numInputRows > 0)

  final case class Drain(blocks: Long, wallS: Double, batchMs: Seq[Double],
                         batches: Seq[StreamingQueryProgress], error: Option[Throwable]) {
    /** Blocks over the time of the micro-batches that committed them:
      * every batch counts, the first one's start-up too; the query's own
      * start and stop do not. */
    def blocksPerS: Double = blocks / (batchMs.sum / 1000)
  }

  /** AvailableNow catch-up of heights `[from, until)` into `url`, with the
    * pipeline's default chunking. */
  def drain(ctx: Ctx, store: BenchStore, url: String, from: Long, until: Long): Drain = {
    store.setCap(until - 1)
    val t0 = System.nanoTime()
    val q = BlockStreamPipeline.startFromStore(ctx.spark, StoreName, ckpt(ctx), url,
      Dialect.Derby, availableNow = true, startHeight = from)
    val err = try { q.awaitTermination(); None } catch { case e: Throwable => Some(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val bs = dataBatches(q)
    Drain(until - from, wall, bs.map(p => triggerMs(p).toDouble), bs, err)
  }

  // ------------------------------------------------------------ workload

  /** Catch-up, then live: an AvailableNow drain of a seeded contiguous
    * range (closed loop), then the open-loop live phase continuing from
    * the next height into the same database, with one closed-loop reader
    * of served pages beside it. */
  def run(ctx: Ctx, r: Result): Unit = {
    val (feed, url) = ctx.setup { () =>
      val f = Feed.load(ctx.spark, ctx.dataDir)
      val u = freshDb(ctx, traced = false)
      ServingMirrors.atiSummaries(ctx.spark, ctx.dataDir)
      ServingMirrors.ctiSummaries(ctx.spark, ctx.dataDir)
      (f, u)
    }
    val store = new BenchStore(feed)
    BlockStores.register(StoreName, store)
    val (ati, sums) = ServingMirrors.atiSummaries(ctx.spark, ctx.dataDir)
    val (cti, _) = ServingMirrors.ctiSummaries(ctx.spark, ctx.dataDir)
    val reqs = Pages.requests(ctx.seed, feed, Params.PageLimit)
    ctx.warm { () =>
      drain(ctx, store, freshDb(ctx, traced = false), 0, Params.WarmBlocks)
      reqs.takeRight(Params.WarmPages).foreach(Pages.serve(ati, sums, cti, _))
    }
    val blocks = Params.CatchupBlocks
    val liveMax = Params.LiveWarmBlocks + (Params.RatePerS * (ctx.seconds + 1)).toLong
    val span = feed.heights - Params.WarmBlocks - blocks - liveMax
    require(span > 0, s"feed has only ${feed.heights} blocks")
    val h0 = Params.WarmBlocks + new Random(ctx.seed).nextInt(span.toInt)

    val catchup = ctx.timed(() => drain(ctx, store, url, h0, h0 + blocks))
    val live = ctx.timed(() => liveRun(ctx, store, url, h0 + blocks, ati, sums, cti, reqs))
    check(ctx, r, catchup, live, url, h0)
    r.series("ingest.batch_ms") = catchup.batchMs
    r.series("live.visible_ms") = live.visibleMs
    r.series("serve.page_ms") = live.pageMs
    r.detail ++= Map("ingest.blocks_per_s" -> catchup.blocksPerS, "ingest.wall_blocks_per_s" -> blocks / catchup.wallS,
      "ingest.blocks" -> blocks.toDouble, "ingest.start_height" -> h0.toDouble,
      "live.blocks" -> live.released.toDouble, "live.rate_per_s" -> Params.RatePerS,
      "live.latency_limit_ms" -> Params.LatencyLimitMs,
      // The closed-loop reader's rate at its median page time; the mean
      // rate is kept beside it.
      "serve.pages_per_s" -> 1000 / Stats.median(live.pageMs),
      "serve.mean_pages_per_s" -> live.pageMs.size / live.readS)

    if (ctx.trace) {
      // The same phases again with every instrument on, into a fresh
      // database; the untraced phases above are the overhead baseline.
      val tracedUrl = freshDb(ctx, traced = true)
      val tc = ctx.traced(() => drain(ctx, store, tracedUrl, h0, h0 + blocks))
      ctx.ingestLayers(r, tc.batches, blocks, feed.rowsIn(h0, h0 + blocks), tracedUrl)
      val tl = ctx.traced(() => liveRun(ctx, store, tracedUrl, h0 + blocks, ati, sums, cti, reqs))
      ctx.serveLayers(r, tl.pageMs.size, tl.rowsReturned, tl.probeMs, tl.lookupMs)
      r.series("traced.live.visible_ms") = tl.visibleMs
      r.detail("traced.ingest.blocks_per_s") = tc.blocksPerS
      // Single-thread baseline: the same chunked catch-up at local[1].
      val single = ctx.singleThread { () =>
        drain(ctx, store, freshDb(ctx, traced = false), h0, h0 + Params.SingleThreadBlocks)
      }
      r.layers("ingest.parallel_speedup") =
        Stats.median(single.batchMs) / Stats.median(catchup.batchMs)
    }
  }

  /** Attempted and failed operations of both phases, and the output
    * checks: the six tables over every height written, and a sample of
    * served pages against the unserved reference. */
  private def check(ctx: Ctx, r: Result, catchup: Drain, live: LiveRun, url: String,
                    h0: Long): Unit = {
    r.attempted += catchup.blocks + live.written + live.pageMs.size + live.pageErrors
    r.failed += live.lateBlocks + live.pageErrors
    catchup.error.foreach(e => r.note(s"catch-up query failed: ${e.getMessage.take(300)}"))
    live.error.foreach(e => r.note(s"live query failed: ${e.take(300)}"))
    if (live.lateBlocks > 0)
      r.note(s"${live.lateBlocks} of ${live.released} live blocks not visible within " +
        s"${Params.LatencyLimitMs} ms")
    val until = h0 + catchup.blocks + live.written
    val diffs = Checks.tables(ctx.spark, ctx.dataDir, url, h0, until)
    diffs.filterNot(_.ok).foreach(t => r.note(s"table ${t.table}: ${t.missing.size} missing, " +
      s"${t.extra.size} extra of ${t.expected}; first ${(t.missing ++ t.extra).head.take(200)}"))
    r.failed += math.min(until - h0, Checks.failedBlocks(diffs))
    r.checks += "ingest.tables" -> diffs.forall(_.ok)
    val wrong = live.checked.count { case (req, got) =>
      Checks.referencePage(ctx.spark, ctx.dataDir, req) != got
    }
    if (wrong > 0) r.note(s"$wrong of ${live.checked.size} sampled pages differ from the reference")
    r.failed += wrong
    r.checks += "serve.pages" -> (wrong == 0 && live.checked.nonEmpty)
  }

  /** `written` counts every height the live query was given, the
    * untimed first batch too; `released` only the scheduled ones. */
  final case class LiveRun(written: Long, released: Long, visibleMs: Seq[Double], lateBlocks: Long,
                           pageMs: Seq[Double], probeMs: Seq[Double], lookupMs: Seq[Double],
                           rowsReturned: Long, readS: Double, pageErrors: Long,
                           checked: Seq[(Checks.PageReq, Seq[String])],
                           batches: Seq[StreamingQueryProgress], error: Option[String])

  private def liveRun(ctx: Ctx, store: BenchStore, url: String, h0: Long,
                      ati: org.apache.spark.sql.DataFrame, sums: org.apache.spark.sql.DataFrame,
                      cti: org.apache.spark.sql.DataFrame, reqs: IndexedSeq[Checks.PageReq]): LiveRun = {
    // The query's first batch pays its start-up once (planning, code
    // generation, first use of its state): it commits the first
    // LiveWarmBlocks heights before the schedule starts, untimed.
    val s0 = h0 + Params.LiveWarmBlocks
    store.setCap(s0 - 1)
    val q = BlockStreamPipeline.startFromStore(ctx.spark, StoreName, ckpt(ctx), url,
      Dialect.Derby, availableNow = false, startHeight = h0)
    def committed: Long = dataBatches(q).map(b => heights(b, h0)._2).maxOption.getOrElse(h0)
    val started = System.nanoTime()
    while (q.isActive && committed < s0 && System.nanoTime() - started < 30e9.toLong)
      Thread.sleep(10)
    // After its first trigger, the processing-time trigger fires on
    // multiples of its interval of the wall clock. The schedule starts
    // half a release gap after such a multiple, so every release is that
    // far from every trigger and the wait for the next trigger is the
    // same in every run. It stops half a gap early for the same reason:
    // a release at the very end would wait a whole interval alone.
    val halfGapMs = (500 / Params.RatePerS).toLong
    Thread.sleep(Params.TriggerMs - System.currentTimeMillis() % Params.TriggerMs + halfGapMs)
    val wallT0Ms = System.currentTimeMillis()
    val t0 = store.startSchedule(s0, Params.RatePerS)
    val deadline = t0 + (ctx.seconds * 1e9).toLong - halfGapMs * 1000000L

    // One closed-loop reader: the next page is requested when the last one
    // has been answered.
    val pageMs, probeMs, lookupMs = ArrayBuffer.empty[Double]
    val checked = ArrayBuffer.empty[(Checks.PageReq, Seq[String])]
    val rowsReturned, pageErrors = new AtomicLong
    var readS = 0.0
    val reader = new Thread(() => {
      ctx.spark.sparkContext.setLocalProperty("perfbench.tag", "serve")
      var i = 0
      while (System.nanoTime() < deadline) {
        val req = reqs(i % reqs.size)
        try {
          val (rows, probe, lookup) = Pages.serve(ati, sums, cti, req)
          pageMs += probe + lookup; probeMs += probe; lookupMs += lookup
          rowsReturned.addAndGet(rows.length)
          if (i % Pages.CheckEvery == 0) checked += req -> Checks.renderPage(rows)
        } catch { case e: Throwable =>
          pageErrors.incrementAndGet()
          System.err.println(s"[perfbench] page failed: $e")
        }
        i += 1
      }
      readS = (System.nanoTime() - t0) / 1e9
    }, "perfbench-reader")
    reader.start()
    val sleepMs = (deadline - System.nanoTime()) / 1000000
    if (sleepMs > 0) Thread.sleep(sleepMs)
    val last = store.freeze()
    reader.join()

    // Drain what was released, then stop. Blocks still uncommitted after
    // the grace period are a backlog that did not clear: they fail.
    val graceEnd = System.nanoTime() + (Params.GraceS * 1e9).toLong
    while (committed <= last && q.isActive && System.nanoTime() < graceEnd) Thread.sleep(20)
    val error = q.exception.map(_.getMessage)
    q.stop()

    val nanoOfWallMs = (ms: Long) => t0 + (ms - wallT0Ms) * 1000000L
    val batches = dataBatches(q)
    val visible = batches.flatMap { b =>
      val (from, until) = heights(b, h0)
      val doneNs = nanoOfWallMs(java.time.Instant.parse(b.timestamp).toEpochMilli + triggerMs(b))
      (math.max(from, s0) until until).map(h => (doneNs - store.releaseNs(h)) / 1e6)
    }
    val released = last - s0 + 1
    val late = released - visible.count(_ <= Params.LatencyLimitMs)
    LiveRun(last - h0 + 1, released, visible, late, pageMs.toSeq, probeMs.toSeq, lookupMs.toSeq,
      rowsReturned.get, readS, pageErrors.get, checked.toSeq, batches, error)
  }
}

/** The served-page client. Each request reads the index of one entry of
  * the feed's account and contract indexes (`ati`, `cti`), drawn at
  * random, so an account or contract is read as often as the feed writes
  * to its index. Direction (half ascending) and cursor (half from the
  * first page, half from a random id) are assumptions of the benchmark. */
object Pages {
  val CheckEvery = 8

  def requests(seed: Long, feed: Feed, limit: Int, n: Int = 4096): IndexedSeq[Checks.PageReq] = {
    val rnd = new Random(seed * 31 + 7)
    val entries = feed.rows.iterator.flatMap(_.iterator).flatMap { r =>
      r.affected_accounts.distinct.map(a => ("account", a, 0L)) ++
        r.affected_contracts.distinct.map(c => ("contract", c.index, c.subindex))
    }.toIndexedSeq
    val maxId = feed.heights.toLong << graft.model.Schemas.SeqBits
    (0 until n).map { _ =>
      val (kind, key, sub) = entries(rnd.nextInt(entries.size))
      val asc = rnd.nextBoolean()
      val from =
        if (rnd.nextBoolean()) { if (asc) 0L else Long.MaxValue }
        else (rnd.nextDouble() * maxId).toLong
      Checks.PageReq(kind, key, sub, from, limit, asc)
    }
  }

  /** Serve one page; returns its rows and the time of its two jobs: the
    * id probe (inside the served call) and the summaries lookup. */
  def serve(ati: org.apache.spark.sql.DataFrame, sums: org.apache.spark.sql.DataFrame,
            cti: org.apache.spark.sql.DataFrame,
            r: Checks.PageReq): (Array[org.apache.spark.sql.Row], Double, Double) = {
    val t0 = System.nanoTime()
    val df =
      if (r.kind == "contract")
        QueryApi.contractPageServed(cti, sums, r.key, r.sub, r.from, r.limit, r.ascending)
      else QueryApi.accountPageServed(ati, sums, lit(r.key), r.from, r.limit, r.ascending)
    val t1 = System.nanoTime()
    val rows = df.collect()
    val t2 = System.nanoTime()
    Trace.span("serve.id_probe", t0, t1, "serve.page", s"page-$t0")
    Trace.span("serve.lookup", t1, t2, "serve.page", s"page-$t0")
    (rows, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }
}
