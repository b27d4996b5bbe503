package perfbench

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.Tables
import graft.ingest.BlockFeed
import graft.ingest.BlockFeed.FeedRow
import graft.sources.BlockStore

/** The block feed held in memory, one array of rows per height, derived
  * from the generated `events` table the way the program derives it
  * (`BlockFeed.fromEvents`). */
final case class Feed(rows: Array[Array[FeedRow]]) {
  def heights: Int = rows.length
  def rowsIn(from: Long, until: Long): Long =
    (from until until).iterator.map(h => rows(h.toInt).length.toLong).sum
}

object Feed {
  def load(spark: SparkSession, dataDir: String): Feed = {
    val all = BlockFeed.fromEvents(Tables.events(spark, dataDir))
      .as(Encoders.product[FeedRow]).collect()
    val byHeight = Array.fill(all.iterator.map(_.height).max.toInt + 1)(Array.empty[FeedRow])
    all.groupBy(_.height).foreach { case (h, rs) => byHeight(h.toInt) = rs.sortBy(_.seq_in_block) }
    Feed(byHeight)
  }
}

/** The benchmark's node: a [[BlockStore]] over the in-memory feed.
  *
  * `latestHeight` is either a fixed cap (catch-up: the whole range is
  * there from the start) or an open-loop release schedule: block
  * `h0 + i` becomes available at `t0 + (i + 1) / rate` seconds, whatever
  * the pipeline is doing, until the schedule is frozen at the end of the
  * run. Every fetch is counted and timed when tracing is on. */
final class BenchStore(feed: Feed) extends BlockStore {
  @volatile private var cap: Long = -1L
  @volatile private var schedule: Option[(Long, Long, Double)] = None // (t0 ns, h0, rate)
  @volatile private var lastSchedule: Option[(Long, Long, Double)] = None

  def setCap(h: Long): Unit = { schedule = None; cap = h }

  def startSchedule(h0: Long, ratePerS: Double): Long = {
    val t0 = System.nanoTime()
    schedule = Some((t0, h0, ratePerS))
    lastSchedule = schedule
    t0
  }

  /** Stop releasing: the highest height released so far stays the cap. */
  def freeze(): Long = { cap = latestHeight(); schedule = None; cap }

  /** When block `h` was (or will be) released, in ns on the JVM clock. */
  def releaseNs(h: Long): Long = lastSchedule match {
    case Some((t0, h0, rate)) => t0 + ((h - h0 + 1) / rate * 1e9).toLong
    case None => throw new IllegalStateException("no release schedule")
  }

  override def latestHeight(): Long = schedule match {
    case Some((t0, h0, rate)) =>
      val released = ((System.nanoTime() - t0) / 1e9 * rate).toLong
      math.min(h0 - 1 + released, feed.heights - 1L)
    case None => cap
  }

  override def blocks(from: Long, until: Long): Iterator[FeedRow] = {
    val t0 = System.nanoTime()
    val out = (from until math.min(until, feed.heights.toLong)).iterator
      .flatMap(h => feed.rows(h.toInt).iterator).toArray
    val t1 = System.nanoTime()
    Trace.add("sources.fetch_calls")
    Trace.add("sources.rows_fetched", out.length.toLong)
    Trace.add("sources.fetch_ns", t1 - t0)
    Trace.span("sources.fetch", t0, t1, "streaming.batch", Trace.batchOfTask)
    out.iterator
  }
}
