package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode}

import graft.SparkSpec
import graft.ingest.BlockIngest
import graft.ingest.BlockFeed.{Cis2Event, Contract, FeedRow, KeyBinding}
import graft.model.Schemas

/** End-to-end streaming test: feed parquet → Structured Streaming →
  * Derby serving DB. Covers resume-from-checkpoint (A11), idempotent
  * replay (A14/exactly-once), CIS-2 running supply, and LWW bindings —
  * cross-checked against the pure batch derivation over the full feed.
  */
class BlockStreamPipelineSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val root = Files.createTempDirectory("graft-stream").toString
  private val feedDir = s"$root/feed"
  private val ckpt = s"$root/ckpt"
  private val url = s"jdbc:derby:$root/db;create=true"

  private def mkFeed(heights: Range): DataFrame = {
    val rows = heights.flatMap { h =>
      Seq(
        Row(h.toLong, 0, s"h$h", 1000L * h, s"""{"k":$h}""", false, (h % 3).toLong,
          Seq((h % 3).toLong, ((h + 1) % 3).toLong),
          Seq(Row((h % 2).toLong, 0L)),
          Seq(Row((h % 2).toLong, 0L, "tok", if (h % 2 == 0) "mint" else "burn",
            (10 + h).toString)),
          null),
        Row(h.toLong, 1, s"h$h", 1000L * h, s"""{"s":$h}""", true, null,
          Seq(99L), Seq.empty[Row], Seq.empty[Row],
          Seq(Row(0, 0, s"pk-$h", true)))
      )
    }
    spark.createDataFrame(rows.asJava,
      Schemas.blockFeed(org.apache.spark.sql.types.LongType))
  }

  private def q(sql: String): Seq[Seq[Any]] = rows(url, sql)

  private def runPipeline(): Unit = {
    val query = BlockStreamPipeline.start(spark, feedDir, ckpt, url,
      Dialect.Derby, availableNow = true, maxFilesPerTrigger = 2)
    query.awaitTermination(120000)
  }

  test("streamed tables equal the batch derivation; resume and replay are exact") {
    Migrations.migrate(url, Dialect.Derby)
    assert(Migrations.currentVersion(Migrations.connect(url)) == 3)

    // chunk 1: heights 0..4 in several files (micro-batches)
    mkFeed(0 until 5).repartition(3).write.mode(SaveMode.Append).parquet(feedDir)
    runPipeline()

    assert(q("SELECT COUNT(*) FROM summaries").head.head == 10)
    val supply1 = q("SELECT total_supply FROM cis2_tokens WHERE idx = 0 AND subidx = 0")
      .head.head
    // heights 0,2,4 mint on (0,0): +10 +12 +14 = 36
    assert(supply1 == "36")

    // chunk 2: heights 5..9 — checkpoint resume picks up only new files
    mkFeed(5 until 10).repartition(2).write.mode(SaveMode.Append).parquet(feedDir)
    runPipeline()

    assert(q("SELECT COUNT(*) FROM summaries").head.head == 20)
    // mints on (0,0): 10+12+14+16+18 = 70
    assert(q("SELECT total_supply FROM cis2_tokens WHERE idx = 0 AND subidx = 0")
      .head.head == "70")
    // burns on (1,0): -(11+13+15+17+19) = -75
    assert(q("SELECT total_supply FROM cis2_tokens WHERE idx = 1 AND subidx = 0")
      .head.head == "-75")

    // bindings: address 99 snapshot from the LAST special summary wins
    val kb = q("SELECT src_id, public_key FROM bindings WHERE address = 99")
    assert(kb.length == 1)
    assert(kb.head(1) == "pk-9")

    // full replay with a FRESH checkpoint over the same DB: every write
    // must be a no-op (idempotence under at-least-once delivery).
    val ckpt2 = s"$root/ckpt2"
    val query = BlockStreamPipeline.start(spark, feedDir, ckpt2, url,
      Dialect.Derby, availableNow = true, maxFilesPerTrigger = 3)
    query.awaitTermination(120000)

    assert(q("SELECT COUNT(*) FROM summaries").head.head == 20)
    assert(q("SELECT COUNT(*) FROM cis2_deltas").head.head == 10)
    assert(q("SELECT total_supply FROM cis2_tokens WHERE idx = 0 AND subidx = 0")
      .head.head == "70")
    assert(q("SELECT COUNT(*) FROM bindings WHERE address = 99").head.head == 1)

    // cross-check every table against the pure batch derivation
    assertTablesEqual(url, mkFeed(0 until 10))
  }

  private def rows(url: String, sql: String): Seq[Seq[Any]] = {
    val c = Migrations.connect(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val buf = scala.collection.mutable.Buffer.empty[Seq[Any]]
      while (rs.next()) buf += (1 to n).map(rs.getObject)
      buf.toSeq
    } finally c.close()
  }

  /** Runs `body` with adaptive execution on or off and four shuffle
    * partitions — with AQE off, a hash shuffle of a batch really does
    * spread it over four tasks. */
  private def withAqe(enabled: Boolean)(body: => Unit): Unit = {
    val settings = Map("spark.sql.adaptive.enabled" -> enabled.toString,
      "spark.sql.shuffle.partitions" -> "4")
    val saved = settings.keys.map(k => k -> spark.conf.getOption(k))
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The six serving tables in `url` equal the batch derivation over `full`. */
  private def assertTablesEqual(url: String, full: DataFrame): Unit = {
    def render(xs: Seq[Seq[Any]]): Seq[String] = xs.map(_.map(String.valueOf).mkString("|")).sorted
    def exp(df: DataFrame): Seq[String] = render(df.collect().toSeq.map(_.toSeq))
    def got(sql: String): Seq[String] = render(rows(url, sql))
    assert(got("SELECT id, block, ts, height, summary FROM summaries") ==
      exp(BlockIngest.summaries(full)))
    assert(got("SELECT account, summary FROM ati") == exp(BlockIngest.ati(full)))
    assert(got("SELECT idx, subidx, summary FROM cti") == exp(BlockIngest.cti(full)))
    assert(got("SELECT summary, seq, idx, subidx, token_id, delta FROM cis2_deltas") ==
      exp(BlockIngest.cis2DeltaRows(BlockIngest.withId(full))))
    assert(got("SELECT idx, subidx, token_id, total_supply FROM cis2_tokens") ==
      exp(BlockIngest.cis2Tokens(full)))
    assert(got("SELECT address, public_key, credential_index, key_index, is_simple_account " +
      "FROM bindings") == exp(BlockIngest.keyBindings(full)))
  }

  test("a failed write leaves no block partially visible (per-block atomicity)") {
    // Block k's binding row violates the 256-char public_key column, so
    // its transaction dies AFTER the block's summaries/ati/cti/deltas
    // statements already executed — the rollback must hide all of them
    // (insert_block one-transaction-per-block, main.rs:543-574). The one
    // height-ordered writer commits every block below k first and never
    // reaches a block above it, whatever AQE does to the shuffle.
    val heights = 0 until 8
    val k = 5
    def feed(poison: Boolean): DataFrame = {
      val rows = heights.flatMap { h =>
        val pk = if (poison && h == k) "x" * 300 else s"pk-$h"
        Seq(
          Row(h.toLong, 0, s"h$h", 1000L * h, s"""{"k":$h}""", false, (h % 3).toLong,
            Seq((h % 3).toLong, ((h + 1) % 3).toLong),
            Seq(Row((h % 2).toLong, 0L)),
            Seq(Row((h % 2).toLong, 0L, "tok", "mint", (10 + h).toString)),
            null),
          Row(h.toLong, 1, s"h$h", 1000L * h, s"""{"s":$h}""", true, null,
            Seq(90L + h), Seq.empty[Row], Seq.empty[Row],
            Seq(Row(0, 0, pk, true)))
        )
      }
      spark.createDataFrame(rows.asJava,
        Schemas.blockFeed(org.apache.spark.sql.types.LongType)).repartition(3)
    }

    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val root2 = Files.createTempDirectory("graft-atomic").toString
      val url2 = s"jdbc:derby:$root2/db;create=true"
      Migrations.migrate(url2, Dialect.Derby)
      def committed(sql: String): Set[Long] =
        rows(url2, sql).map(_.head.asInstanceOf[Number].longValue()).toSet

      intercept[Exception] {
        TransactionalSink.writeBatch(feed(poison = true), url2, Dialect.Derby)
      }
      val below = (0L until k.toLong).toSet
      val perBlock = s"/ ${Schemas.SeqMod}"
      assert(committed("SELECT height FROM summaries") == below, s"aqe=$aqe")
      assert(committed(s"SELECT summary $perBlock FROM ati") == below, s"aqe=$aqe")
      assert(committed(s"SELECT summary $perBlock FROM cti") == below, s"aqe=$aqe")
      assert(committed(s"SELECT summary $perBlock FROM cis2_deltas") == below, s"aqe=$aqe")
      assert(committed("SELECT address - 90 FROM bindings") == below, s"aqe=$aqe")
      // mints on (0,0) at heights 0, 2, 4 and on (1,0) at 1, 3
      assert(rows(url2, "SELECT idx, total_supply FROM cis2_tokens").map(r =>
        (r.head.asInstanceOf[Number].longValue(), r(1))).toSet == Set((0L, "36"), (1L, "24")))

      // Replaying the corrected batch heals the gap; already-committed
      // blocks dedup via the conditional inserts (idempotent replay).
      TransactionalSink.writeBatch(feed(poison = false), url2, Dialect.Derby)
      assertTablesEqual(url2, feed(poison = false))
    }
  }

  test("a multi-batch, multi-token drain with AQE off completes and equals the batch derivation") {
    // Every block mints and burns on the same few tokens. Several writer
    // tasks per batch would each hold a lock on a token row and wait for
    // the other's, a Derby deadlock (ERROR 40001) that a local[n] master
    // never retries; the one ordered writer has no peer to deadlock with.
    def row(h: Long, seq: Int): FeedRow = FeedRow(h, seq, s"h$h", 1000L * h,
      s"""{"k":$h}""", is_special = seq == 2, sender = if (seq == 2) None else Some(h % 7),
      affected_accounts = Seq(h % 7, (h + seq) % 11), affected_contracts = Seq(Contract(h % 3, 0L)),
      cis2_events = (0 until 4).map(t => Cis2Event(t % 2, 0L, s"t$t",
        if ((h + t + seq) % 3 == 0) "burn" else "mint", (h * 10 + t).toString)),
      key_bindings = if (h % 4 == seq) Some(Seq(KeyBinding(0, seq, s"pk-$h-$seq", seq == 0)))
        else None)
    final class TokenStore(max: Long) extends graft.sources.BlockStore {
      override def latestHeight(): Long = max
      override def blocks(from: Long, until: Long): Iterator[FeedRow] =
        (from until until).iterator.flatMap(h => (0 until 3).map(row(h, _)))
    }
    val maxHeight = 47L
    graft.sources.BlockStores.register("token-store", new TokenStore(maxHeight))
    val root3 = Files.createTempDirectory("graft-aqe-off").toString
    val url3 = s"jdbc:derby:$root3/db;create=true"
    Migrations.migrate(url3, Dialect.Derby)

    withAqe(enabled = false) {
      val query = BlockStreamPipeline.startFromStore(spark, "token-store", s"$root3/ckpt",
        url3, Dialect.Derby, availableNow = true, maxBlocksPerTrigger = 16)
      try assert(query.awaitTermination(120000), "the drain did not finish")
      finally query.stop()
      assert(query.recentProgress.count(_.numInputRows > 0) == 3)
    }
    val full = spark.createDataset((0L to maxHeight).flatMap(h => (0 until 3).map(row(h, _))))(
      Encoders.product[FeedRow]).toDF()
    assertTablesEqual(url3, full)
  }
}
