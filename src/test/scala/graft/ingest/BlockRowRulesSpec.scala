package graft.ingest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ingest.BlockFeed.{Cis2Event, Contract, FeedRow, KeyBinding}

/** The per-row and per-block rules the streaming sink writes with
  * (`BlockIngest.summaryOf/atiOf/ctiOf/cis2DeltasOf/latestBindingsOf`)
  * equal the DataFrame derivations they sit beside, row for row. */
class BlockRowRulesSpec extends SparkSpec {

  private def df(rows: Seq[FeedRow]): DataFrame =
    spark.createDataset(rows)(Encoders.product[FeedRow]).toDF()

  private def row(h: Long, seq: Int, sender: Option[Long] = None,
                  accounts: Seq[Long] = Nil, contracts: Seq[Contract] = Nil,
                  events: Seq[Cis2Event] = Nil, bindings: Option[Seq[KeyBinding]] = None,
                  special: Boolean = false): FeedRow =
    FeedRow(h, seq, s"h$h", 1000L * h, s"""{"k":$h,"s":$seq}""", special, sender,
      accounts, contracts, events, bindings)

  private def assertRulesEqual(feed: Seq[FeedRow]): Unit = {
    val all = df(feed)
    assert(feed.map(BlockIngest.summaryOf).sorted ==
      BlockIngest.summaries(all).collect().toSeq.map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))).sorted)
    assert(feed.flatMap(BlockIngest.atiOf).sorted ==
      BlockIngest.ati(all).collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted)
    assert(feed.flatMap(BlockIngest.ctiOf).sorted ==
      BlockIngest.cti(all).collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sorted)
    assert(feed.flatMap(BlockIngest.cis2DeltasOf).sortBy(d => (d.summary, d.seq)) ==
      BlockIngest.cis2DeltaRows(BlockIngest.withId(all)).collect().toSeq.map(r =>
        BlockIngest.Cis2Delta(r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5))).sortBy(d => (d.summary, d.seq)))
    // The sink writes the latest snapshot per address of EACH block, so
    // the batch form is taken block by block.
    feed.groupBy(_.height).foreach { case (h, block) =>
      val rule = BlockIngest.latestBindingsOf(block).flatMap { case (a, _, kb) =>
        kb.map(b => (a, b.public_key, b.credential_index, b.key_index, b.is_simple_account))
      }
      val batch = BlockIngest.keyBindings(all.where(col("height") === h)).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getBoolean(4)))
      assert(rule.sorted == batch.sorted, s"height $h")
    }
  }

  test("edge cases: duplicates, seq positions, repeated key updates, no sender, protocol items") {
    val c = Contract(3L, 1L)
    val mint = Cis2Event(3L, 1L, "t", "mint", "100")
    val transfer = Cis2Event(3L, 1L, "t", "transfer", "7")
    val burn = Cis2Event(3L, 1L, "t", "burn", "40")
    val feed = Seq(
      // duplicate accounts and contracts inside one summary
      row(0, 0, Some(7), accounts = Seq(7, 8, 7, 8), contracts = Seq(c, Contract(4, 0), c)),
      // transfers between a mint and a burn: the burn keeps position 2
      row(0, 1, Some(7), accounts = Seq(7), contracts = Seq(c),
        events = Seq(mint, transfer, burn, transfer, mint.copy(token_id = "u"))),
      // two key updates for address 7 in one block: seq 4 wins
      row(0, 2, Some(7), accounts = Seq(7), bindings = Some(Seq(KeyBinding(0, 0, "old", true)))),
      // account creation: no sender, the created account is the first
      row(0, 3, None, accounts = Seq(42, 7), bindings = Some(Seq(KeyBinding(0, 0, "new42", true),
        KeyBinding(1, 0, "new42b", false)))),
      row(0, 4, Some(7), accounts = Seq(7), bindings = Some(Seq(KeyBinding(0, 1, "latest", false)))),
      // protocol item
      row(0, 5, None, accounts = Seq(9, 9), special = true),
      // a later empty snapshot replaces an earlier one with nothing
      row(1, 0, Some(5), accounts = Seq(5), bindings = Some(Seq(KeyBinding(0, 0, "gone", true)))),
      row(1, 1, Some(5), accounts = Seq(5), bindings = Some(Nil)),
      row(1, 2, Some(7), accounts = Seq(7), bindings = Some(Seq(KeyBinding(2, 2, "h1", true)))))
    assertRulesEqual(feed)

    assert(BlockIngest.summaryOf(feed(5))._5 == """{"Right":{"k":0,"s":5}}""")
    assert(BlockIngest.cis2DeltasOf(feed(1)).map(d => (d.seq, d.token_id, d.delta)) ==
      Seq((0, "t", "100"), (2, "t", "-40"), (4, "u", "100")))
    assert(BlockIngest.latestBindingsOf(feed.filter(_.height == 0)).map(b => (b._1, b._2)) ==
      Seq((7L, 4L), (42L, 3L)))
  }

  test("seeded random feeds: every rule equals its DataFrame form") {
    val rnd = new Random(11)
    def some[A](n: Int)(a: => A): Seq[A] = Seq.fill(rnd.nextInt(n + 1))(a)
    val feed = (0L until 30L).flatMap { h =>
      (0 until 1 + rnd.nextInt(5)).map { seq =>
        val special = rnd.nextInt(6) == 0
        row(h, seq,
          sender = if (special || rnd.nextInt(5) == 0) None else Some(rnd.nextInt(6).toLong),
          // at least one affected account, so every key update names an address
          accounts = rnd.nextInt(6).toLong +: some(3)(rnd.nextInt(6).toLong),
          contracts = some(3)(Contract(rnd.nextInt(3).toLong, rnd.nextInt(2).toLong)),
          events = some(4)(Cis2Event(rnd.nextInt(2).toLong, 0L, s"t${rnd.nextInt(2)}",
            Seq("mint", "burn", "transfer")(rnd.nextInt(3)), rnd.nextInt(1000).toString)),
          bindings = if (rnd.nextInt(3) == 0)
            Some(some(2)(KeyBinding(rnd.nextInt(2), rnd.nextInt(3), s"pk${rnd.nextInt(99)}",
              rnd.nextBoolean())))
            else None,
          special = special)
      }
    }
    assertRulesEqual(feed)
  }
}
