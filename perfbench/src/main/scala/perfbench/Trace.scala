package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, DriverPropertyInfo, PreparedStatement, SQLException, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Spans of one request (a
  * micro-batch, a served page, an analytics query) share `request`. */
final case class Span(name: String, startNs: Long, endNs: Long,
                      parent: String, request: String)

/** In-memory trace of the benchmark's traced run: spans plus named
  * counters, all recorded from the benchmark's own code at the calls into
  * each layer. Nothing is written until [[flush]] at the end of the run. */
object Trace {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = TrieMap.empty[String, LongAdder]

  def add(name: String, v: Long = 1L): Unit =
    if (enabled) counters.getOrElseUpdate(name, new LongAdder).add(v)
  def get(name: String): Long = counters.get(name).map(_.sum()).getOrElse(0L)
  def span(name: String, startNs: Long, endNs: Long, parent: String,
           request: String): Unit =
    if (enabled) spans.add(Span(name, startNs, endNs, parent, request))
  /** Zero the counters before a traced pass; spans of every pass are kept. */
  def reset(): Unit = counters.clear()

  /** The micro-batch a sink task belongs to, from the local property the
    * streaming engine sets on every job of a batch. */
  def batchOfTask: String =
    Option(TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty("streaming.sql.batchId")))
      .getOrElse("-")

  def flush(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(Json.write(Map("name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "request" -> s.request)))
    } finally w.close()
  }
}

/** Per-task Spark metrics bucketed by a job tag: the micro-batch sink
  * (jobs carrying the streaming batch id), a served page, or an analytics
  * query (the `perfbench.tag` local property the benchmark sets on its own
  * threads). Only counts while [[TaskMetricsListener.on]] is set, so set-up
  * and output checks stay out of the numbers. */
final class TaskMetricsListener extends SparkListener {
  @volatile var on = false
  private val stageTag = TrieMap.empty[Int, String]
  final class Bucket {
    val jobs, tasks, runMs, cpuNs, gcMs, shuffleBytes, spillBytes,
      bytesRead, recordsRead = new AtomicLong
  }
  val buckets = TrieMap.empty[String, Bucket]
  def bucket(tag: String): Bucket = buckets.getOrElseUpdate(tag, new Bucket)

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p =>
      Option(p.getProperty("perfbench.tag"))
        .orElse(Option(p.getProperty("streaming.sql.batchId")).map(_ => "sink")))
      .getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val tag = tagOf(e.properties)
    e.stageIds.foreach(stageTag.put(_, tag))
    bucket(tag).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
    val m = e.taskMetrics
    val b = bucket(stageTag.getOrElse(e.stageId, "other"))
    b.tasks.incrementAndGet()
    b.runMs.addAndGet(m.executorRunTime)
    b.cpuNs.addAndGet(m.executorCpuTime)
    b.gcMs.addAndGet(m.jvmGCTime)
    b.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    b.spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    b.bytesRead.addAndGet(m.inputMetrics.bytesRead)
    b.recordsRead.addAndGet(m.inputMetrics.recordsRead)
  }

  def total(f: Bucket => AtomicLong): Long = buckets.values.map(f(_).get).sum
}

/** Plan-phase time (analysis + optimization + planning, from
  * `queryExecution.tracker`) of every `collect` action while on: in the
  * live workload those are exactly the served pages' two jobs. */
final class PlanTimeListener extends QueryExecutionListener {
  @volatile var on = false
  val planMs = new AtomicLong
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on && funcName == "collect") planMs.addAndGet(PlanTimeListener.planMs(qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanTimeListener {
  def planMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
}

/** One span per micro-batch, from the engine's progress events. */
final class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Trace.enabled) {
      val p = e.progress
      val end = System.nanoTime()
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Trace.span("streaming.batch", end - dur * 1000000L, end, "-", p.batchId.toString)
    }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Pass-through JDBC driver: `jdbc:perfbench:<url>` opens `jdbc:<url>`
  * (embedded Derby here) and times every statement execution and commit
  * per table, at the boundary between the sink and the database. */
final class TracingDriver extends java.sql.Driver {
  import TracingDriver._

  override def acceptsURL(url: String): Boolean = url.startsWith(Prefix)
  override def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      Trace.add("jdbc.connections_opened")
      val c = DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info)
      proxy(classOf[Connection], c, new ConnHandler(c))
    }
  override def getPropertyInfo(url: String, info: java.util.Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("perfbench")
}

object TracingDriver {
  val Prefix = "jdbc:perfbench:"
  val Tables = Seq("summaries", "ati", "cti", "cis2_deltas", "cis2_tokens", "bindings")
  private val TableRe = """(?is)^\s*(?:INSERT\s+INTO|UPDATE|DELETE\s+FROM|SELECT.*?\s+FROM)\s+(\w+)""".r

  lazy val register: Unit = DriverManager.registerDriver(new TracingDriver)

  def tableOf(sql: String): String =
    TableRe.findFirstMatchIn(sql).map(_.group(1).toLowerCase).getOrElse("other")

  private def proxy[T](cls: Class[T], target: AnyRef, h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls), h).asInstanceOf[T]

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private final class ConnHandler(c: Connection) extends InvocationHandler {
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "prepareStatement" =>
        val ps = call(c, m, args).asInstanceOf[PreparedStatement]
        proxy(classOf[PreparedStatement], ps, new StmtHandler(ps, args(0).asInstanceOf[String]))
      case "createStatement" =>
        val st = call(c, m, args).asInstanceOf[Statement]
        proxy(classOf[Statement], st, new StmtHandler(st, null))
      case "commit" =>
        val t0 = System.nanoTime()
        val r = call(c, m, args)
        val t1 = System.nanoTime()
        Trace.add("jdbc.commits"); Trace.add("jdbc.commit_ns", t1 - t0)
        Trace.span("jdbc.commit", t0, t1, "sink.task", Trace.batchOfTask)
        r
      case _ => call(c, m, args)
    }
  }

  private final class StmtHandler(st: Statement, prepared: String) extends InvocationHandler {
    private var pending = 0
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val sql = Option(prepared).getOrElse(
        Option(args).flatMap(_.headOption).collect { case s: String => s }.getOrElse(""))
      val t = tableOf(sql)
      m.getName match {
        case "addBatch" => pending += 1; call(st, m, args)
        case "executeBatch" =>
          val n = pending; pending = 0
          val t0 = System.nanoTime()
          val counts = call(st, m, args).asInstanceOf[Array[Int]]
          record(t, t0, n, counts.count(_ > 0).toLong, counts.count(_ == 0).toLong)
          counts
        case "executeUpdate" =>
          val t0 = System.nanoTime()
          val n = try call(st, m, args).asInstanceOf[Integer].intValue
          catch {
            case e: SQLException =>
              if (t == "cis2_tokens" && sql.trim.toUpperCase.startsWith("INSERT"))
                Trace.add("jdbc.supply_insert_races")
              throw e
          }
          if (t == "cis2_tokens" && n == 0 && sql.trim.toUpperCase.startsWith("UPDATE"))
            Trace.add("jdbc.supply_cas_retries")
          record(t, t0, 1, math.max(n, 0).toLong, if (n == 0) 1L else 0L)
          Integer.valueOf(n)
        case "executeQuery" | "execute" =>
          val t0 = System.nanoTime()
          val r = call(st, m, args)
          record(t, t0, 1, 0L, 0L)
          r
        case _ => call(st, m, args)
      }
    }
    private def record(t: String, t0: Long, statements: Int, rows: Long, skipped: Long): Unit = {
      val t1 = System.nanoTime()
      Trace.add(s"jdbc.$t.exec_calls"); Trace.add(s"jdbc.$t.exec_ns", t1 - t0)
      Trace.add(s"jdbc.$t.rows", rows); Trace.add(s"jdbc.$t.rows_skipped", skipped)
      Trace.add("jdbc.statements", statements.toLong); Trace.add("jdbc.exec_ns", t1 - t0)
      Trace.span(s"jdbc.$t", t0, t1, "sink.task", Trace.batchOfTask)
    }
  }
}
