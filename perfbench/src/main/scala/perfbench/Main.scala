package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The ingest workload's sizes, one value each. */
object Params {
  /** Blocks drained in the timed catch-up. */
  val CatchupBlocks = 512
  /** Blocks drained by the untimed warm-up, below every timed range. */
  val WarmBlocks = 320
  /** Blocks drained by the traced run's `local[1]` baseline. */
  val SingleThreadBlocks = 192
  /** Live release rate: 8 blocks per 2 s processing-time trigger of the
    * pipeline, an eighth of a 64-block catch-up batch, so each live batch
    * is small and its fixed costs decide block latency. */
  val RatePerS = 4.0
  /** Blocks of the live query's untimed first batch. */
  val LiveWarmBlocks = 8
  /** Pipeline trigger interval (`BlockStreamPipeline`'s ProcessingTime). */
  val TriggerMs = 2000L
  val LatencyLimitMs = 10000.0
  /** How long released blocks may take to commit after the schedule stops. */
  val GraceS = 20.0
  val PageLimit = 20
  val WarmPages = 8
}

/** What one run measured, written as JSON for `run.py` to summarise:
  * raw sample series (percentiles are computed there), single values,
  * per-layer values of the traced pass, and the outcome of every check. */
final class Result {
  val setupS = mutable.LinkedHashMap.empty[String, Any]
  val series = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val detail = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = ArrayBuffer.empty[(String, Boolean)]
  val notes = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  def note(s: String): Unit = { notes += s; System.err.println(s"[perfbench] $s") }
}

/** One run: the Spark session, the run's directories and the phase
  * helpers every workload uses (set-up, warm, timed, traced). */
final class Ctx(var spark: SparkSession, val queries: Seq[String], val seed: Long,
                val seconds: Double, val trace: Boolean, val dataDir: String,
                val work: String, val out: String, val cpus: Int) {
  val tasks = new TaskMetricsListener
  val plans = new PlanTimeListener
  val progress = new ProgressListener
  var setupS = 0.0
  var warmS = 0.0

  if (trace) {
    TracingDriver.register
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)
    spark.streams.addListener(progress)
  }

  private def time[T](f: () => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f()
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-up after the session: feed load, migration, mirror builds. */
  def setup[T](f: () => T): T = { val (v, s) = time(f); setupS += s; v }

  /** The untimed warm-up: JIT, codegen and first-use costs. */
  def warm[T](f: () => T): T = { val (v, s) = time(f); warmS += s; v }

  var timedS = 0.0
  def timed[T](f: () => T): T = { val (v, s) = time(f); timedS += s; v }

  /** Run `f` with every instrument on. */
  def traced[T](f: () => T): T = {
    Trace.reset()
    Trace.enabled = true; tasks.on = true; plans.on = true
    try f() finally { Trace.enabled = false; tasks.on = false; plans.on = false }
  }

  /** Run `f` on a fresh `local[1]` session (the single-thread baseline). */
  def singleThread[T](f: () => T): T = {
    spark.stop()
    spark = Main.session(1, work)
    f()
  }

  private def ms(ns: Long): Double = ns / 1e6

  /** Per-layer numbers of a traced ingest pass: source, engine, sink and
    * JDBC boundaries. */
  def ingestLayers(r: Result, batches: Seq[StreamingQueryProgress], blocks: Long,
                   feedRows: Long, url: String): Unit = {
    val n = math.max(1, batches.size).toDouble
    def phase(k: String) = batches.map(b => Option(b.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
    val L = r.layers
    L("sources.fetch_calls") = Trace.get("sources.fetch_calls")
    L("sources.fetch_ms") = ms(Trace.get("sources.fetch_ns"))
    L("sources.rows_fetched_per_feed_row") = Trace.get("sources.rows_fetched").toDouble / feedRows
    L("streaming.batches") = batches.size
    L("streaming.blocks_per_batch") = blocks / n
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .foreach(k => L(s"streaming.${k}_ms") = phase(k) / n)
    L("streaming.fixed_ms_per_batch") = (phase("triggerExecution") - phase("addBatch")) / n
    val sink = tasks.bucket("sink")
    L("sink.jobs") = sink.jobs.get / n
    L("sink.tasks") = sink.tasks.get / n
    L("sink.shuffle_bytes") = sink.shuffleBytes.get / n
    L("sink.task_run_ms") = sink.runMs.get / n
    TracingDriver.Tables.foreach { t =>
      L(s"jdbc.$t.exec_calls") = Trace.get(s"jdbc.$t.exec_calls").toDouble / blocks
      L(s"jdbc.$t.rows") = Trace.get(s"jdbc.$t.rows").toDouble / blocks
      L(s"jdbc.$t.exec_ms") = ms(Trace.get(s"jdbc.$t.exec_ns")) / blocks
      L(s"jdbc.$t.rows_skipped") = Trace.get(s"jdbc.$t.rows_skipped").toDouble / blocks
    }
    L("jdbc.statements_per_block") = Trace.get("jdbc.statements").toDouble / blocks
    L("jdbc.commits") = Trace.get("jdbc.commits")
    L("jdbc.commit_ms") = ms(Trace.get("jdbc.commit_ns")) / math.max(1, Trace.get("jdbc.commits"))
    L("jdbc.connections_opened") = Trace.get("jdbc.connections_opened")
    L("jdbc.supply_cas_retries") = Trace.get("jdbc.supply_cas_retries")
    L("jdbc.supply_insert_races") = Trace.get("jdbc.supply_insert_races")
    L("jdbc.busy_share") =
      ms(Trace.get("jdbc.exec_ns") + Trace.get("jdbc.commit_ns")) / math.max(1L, sink.runMs.get)
    L("db.bytes_per_user_byte") = Main.dbBytes(url) / math.max(1L, Main.userBytes(url)).toDouble
    engine(r)
  }

  /** Per-layer numbers of the served pages of a traced live pass. */
  def serveLayers(r: Result, pages: Int, rowsReturned: Long, probeMs: Seq[Double],
                  lookupMs: Seq[Double]): Unit = {
    val n = math.max(1, pages).toDouble
    val serve = tasks.bucket("serve")
    val L = r.layers
    L("serve.id_probe_ms") = probeMs.sum / n
    L("serve.lookup_ms") = lookupMs.sum / n
    L("serve.plan_ms") = plans.planMs.get / n
    L("serve.jobs_per_page") = serve.jobs.get / n
    L("serve.tasks_per_page") = serve.tasks.get / n
    L("serve.bytes_read_per_page") = serve.bytesRead.get / n
    L("serve.rows_scanned_per_row_returned") =
      serve.recordsRead.get.toDouble / math.max(1L, rowsReturned)
  }

  /** Engine-wide totals of the traced pass. */
  def engine(r: Result): Unit = {
    r.layers("spark.gc_ms") = tasks.total(_.gcMs).toDouble
    r.layers("spark.executor_cpu_ms") = tasks.total(_.cpuNs) / 1e6
  }
}

object Main {

  def session(cpus: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def dbDir(url: String): java.io.File =
    new java.io.File(url.split("derby:", 2)(1).takeWhile(_ != ';'))

  def dbBytes(url: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length
    size(dbDir(url))
  }

  /** Bytes of the values the sink stored: 8 per BIGINT, 4 per INT, 1 per
    * BOOLEAN, the length of each string. */
  def userBytes(url: String): Long = {
    val plain = "jdbc:derby:" + url.split("derby:", 2)(1)
    Seq("summaries" -> "8*3 + LENGTH(block) + LENGTH(summary)", "ati" -> "16", "cti" -> "24",
      "cis2_deltas" -> "28 + LENGTH(token_id) + LENGTH(delta)",
      "cis2_tokens" -> "16 + LENGTH(token_id) + LENGTH(total_supply)",
      "bindings" -> "25 + LENGTH(public_key)").map { case (t, e) =>
      Checks.dbRows(plain, s"SELECT CAST(COALESCE(SUM(CAST($e AS BIGINT)), 0) AS BIGINT) FROM $t")
        .head.toLong
    }.sum
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val cpus = a("cpus").toInt
    val spark = session(cpus, work)
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val ctx = new Ctx(spark, a("queries").split(',').toSeq, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), work, a("out"), cpus)
    val r = new Result
    try a("workload") match {
      case "ingest" => Ingest.run(ctx, r)
      case "analytics" => Analytics.run(ctx, r)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.note(s"run aborted: $e")
        r.failed = math.max(1L, r.attempted)
        r.attempted = math.max(1L, r.attempted)
        r.checks += "run.completed" -> false
    }
    // A block can fail twice (late, and missing from the tables): one failure.
    r.failed = math.min(r.failed, r.attempted)
    r.setupS ++= Seq("session_s" -> sessionS, "setup_rest_s" -> ctx.setupS,
      "warm_s" -> ctx.warmS, "timed_s" -> ctx.timedS,
      "jvm_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0,
      "setup_s" -> (sessionS + ctx.setupS + ctx.warmS))
    if (ctx.trace) Trace.flush(s"${ctx.out}/spans.jsonl")
    val doc = Map(
      "setup" -> r.setupS, "series" -> r.series, "detail" -> r.detail, "layers" -> r.layers,
      "checks" -> r.checks.map { case (k, v) => Map("name" -> k, "ok" -> v) },
      "notes" -> r.notes, "attempted" -> r.attempted, "failed" -> r.failed,
      "peak_rss_mb" -> peakRssMb,
      "env" -> Map("cpus" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> ctx.spark.version,
        "derby_dir" -> s"$work/db",
        "derby_durability" -> Option(System.getProperty("derby.system.durability")).getOrElse("default"),
        "java_version" -> System.getProperty("java.version")))
    val w = new java.io.PrintWriter(s"${ctx.out}/result.json", "UTF-8")
    try w.println(Json.write(doc)) finally w.close()
    try ctx.spark.stop() catch { case _: Throwable => () }
  }
}
