package graft.streaming

import java.math.BigInteger
import java.sql.{Connection, PreparedStatement, SQLException}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col

import graft.ingest.BlockFeed.FeedRow
import graft.ingest.BlockIngest

/** Exactly-once JDBC sink for the block-feed stream — the Spark analog of
  * the reference's per-block transactional writer (insert_block,
  * main.rs:543-574; "each block is one DB transaction", README.md:41-44)
  * with the retry/replay semantics of its use_db loop (lib.rs:284-361).
  *
  * **One ordered writer per micro-batch.** The batch is read once, moved
  * to a single partition and sorted by (height, seq_in_block); that one
  * task derives each block's rows with the per-block rules of
  * [[BlockIngest]] and writes them on one connection, committing once per
  * block. Blocks therefore commit gap-free in height order — like the
  * reference's single DB task — so the A11 max-height probe is a valid
  * resume point at any moment, mid-stream included. Per-block atomic
  * visibility follows: a crash or kill at any point leaves every block
  * either fully visible in all five tables or not visible at all, and
  * every block above the failed one unattempted.
  *
  * Exactly-once is BY CONSTRUCTION, not by ledger:
  *  - every row has a deterministic natural key (engine-derived ids,
  *    SURVEY §7.4), so all appends are conditional inserts
  *    (`INSERT … WHERE NOT EXISTS`) — a replayed micro-batch inserts 0
  *    rows;
  *  - CIS-2 deltas are inserted as a STATEMENT BATCH and the per-
  *    statement update counts from `executeBatch` say which deltas are
  *    NEW; only those fold into the running supply (BigInteger
  *    arithmetic — NUMERIC(80,0) analog), so replays add nothing twice.
  *    The supply read-modify-write is an optimistic CAS
  *    (`UPDATE … WHERE total_supply = <read value>`, savepoint-guarded
  *    insert race) so a concurrent writer outside this sink converges;
  *  - key bindings are the LATEST snapshot per (address, BLOCK) — per
  *    block, not per batch, so every block transaction carries its own
  *    snapshot and the all-five-tables atomic-visibility invariant holds
  *    for bindings too. Across blocks and replayed batches the src_id
  *    last-write-wins guards make older snapshots no-ops, matching the
  *    reference's final state (main.rs:506-540).
  *
  * Supply keys and binding addresses are applied in sorted order, so
  * any two writers take their row locks in one order. A failed block fails the task and with it the micro-batch (`local[n]`
  * runs with no task retry); restarting the query replays the batch from
  * its checkpoint, and the replay is idempotent.
  *
  * Driver requirement: `executeBatch` per-statement counts MUST be real
  * row counts — the CIS-2 supply fold depends on them. A driver
  * returning `Statement.SUCCESS_NO_INFO` (e.g. pgjdbc with
  * `reWriteBatchedInserts=true`) would silently treat new deltas as
  * replays, permanently under-counting supply; the writer fails fast on
  * any negative count instead. Keep `reWriteBatchedInserts` OFF for the
  * Postgres dialect.
  */
object TransactionalSink extends Serializable {

  /** Write one micro-batch of feed rows (Schemas.blockFeed, Long
    * addresses) into the serving DB with per-block atomicity. Pure
    * function of the batch — usable from foreachBatch (streaming) or
    * directly (batch backfill, A13). */
  def writeBatch(feedBatch: DataFrame, url: String, dialect: Dialect): Unit =
    feedBatch.as(Encoders.product[FeedRow])
      .repartition(1)
      .sortWithinPartitions(col("height"), col("seq_in_block"))
      .foreachPartition { (rows: Iterator[FeedRow]) =>
        if (rows.hasNext) writePartition(rows.buffered, url, dialect)
      }

  /** One connection; one transaction (commit) per block, in height order. */
  private def writePartition(rows: BufferedIterator[FeedRow], url: String,
                             dialect: Dialect): Unit = {
    val c = Migrations.connect(url)
    try {
      c.setAutoCommit(false)
      val st = new BlockStatements(c, dialect)
      while (rows.hasNext) {
        val height = rows.head.height
        val block = ArrayBuffer.empty[FeedRow]
        while (rows.hasNext && rows.head.height == height) block += rows.next()
        writeBlock(c, st, block.toSeq)
        c.commit()
      }
      st.close()
    } catch {
      case e: Throwable => c.rollback(); throw e
    } finally c.close()
  }

  /** All writes of one block, in the reference's insert order
    * (main.rs:543-574): summaries → ati → cti → cis2 → bindings. */
  private def writeBlock(c: Connection, st: BlockStatements, block: Seq[FeedRow]): Unit = {
    block.foreach(r => st.insSummary.add(BlockIngest.summaryOf(r)))
    st.insSummary.executeBatch()

    block.foreach(r => BlockIngest.atiOf(r).foreach(st.insAti.add))
    st.insAti.executeBatch()

    block.foreach(r => BlockIngest.ctiOf(r).foreach(st.insCti.add))
    st.insCti.executeBatch()

    // CIS-2: batched conditional inserts; executeBatch update counts say
    // which deltas are NEW in this transaction — only those fold into
    // the running supply (replay inserts 0 ⇒ applies 0).
    val deltas = block.flatMap(BlockIngest.cis2DeltasOf)
    deltas.foreach(st.insDelta.add)
    val inserted = st.insDelta.executeBatch()
    // The supply fold is only sound with REAL per-statement counts; a
    // driver answering SUCCESS_NO_INFO (-2) would silently misclassify
    // new deltas as replays (permanent, invisible supply corruption) —
    // fail the block instead.
    require(inserted.forall(_ >= 0),
      "cis2 delta executeBatch returned SUCCESS_NO_INFO; exact update " +
        "counts are required (disable driver batch rewriting, e.g. " +
        "pgjdbc reWriteBatchedInserts)")
    deltas.zip(inserted).collect { case (d, 1) => d }
      .groupMapReduce(d => (d.index, d.subindex, d.token_id))(d => new BigInteger(d.delta))(_ add _)
      .toSeq.sortBy(_._1)
      .foreach { case (key, d) => applySupply(c, st, key, d) }

    BlockIngest.latestBindingsOf(block).foreach { case (addr, id, snapshot) =>
      snapshot.foreach { b =>
        st.delBindings.setLong(1, addr); st.delBindings.setLong(2, id)
        st.delBindings.executeUpdate()
        st.insBinding.setLong(1, addr); st.insBinding.setLong(2, id)
        st.insBinding.setInt(3, b.credential_index)
        st.insBinding.setInt(4, b.key_index)
        st.insBinding.setString(5, b.public_key)
        st.insBinding.setBoolean(6, b.is_simple_account)
        st.insBinding.setLong(7, addr); st.insBinding.setLong(8, id)
        st.insBinding.setLong(9, addr); st.insBinding.setLong(10, id)
        st.insBinding.setInt(11, b.credential_index)
        st.insBinding.setInt(12, b.key_index)
        st.insBinding.executeUpdate()
      }
    }
  }

  /** Optimistic read-modify-write of one token's running supply:
    * compare-and-swap on the read value (two concurrent block
    * transactions on the same token converge — the loser's UPDATE
    * matches 0 rows and retries); the first-insert race is
    * savepoint-guarded so a PK violation degrades to a retry instead of
    * poisoning the block transaction. */
  private def applySupply(c: Connection, st: BlockStatements,
                          key: (Long, Long, String), d: BigInteger): Unit = {
    val (i, s, t) = key
    var done = false
    while (!done) {
      st.selTok.setLong(1, i); st.selTok.setLong(2, s); st.selTok.setString(3, t)
      val rs = st.selTok.executeQuery()
      if (rs.next()) {
        val cur = rs.getString(1)
        st.updTok.setString(1, new BigInteger(cur).add(d).toString)
        st.updTok.setLong(2, i); st.updTok.setLong(3, s); st.updTok.setString(4, t)
        st.updTok.setString(5, cur)
        done = st.updTok.executeUpdate() == 1
      } else {
        val sp = c.setSavepoint()
        try {
          st.insTok.setLong(1, i); st.insTok.setLong(2, s); st.insTok.setString(3, t)
          st.insTok.setString(4, d.toString)
          st.insTok.executeUpdate()
          done = true
        } catch {
          case _: SQLException => c.rollback(sp) // lost the insert race; retry as update
        }
      }
      rs.close()
    }
  }

  /** Batched "insert unless key exists" statement in the dialect's
    * native formulation (Derby: WHERE NOT EXISTS with the key values
    * bound twice; Postgres: ON CONFLICT DO NOTHING, bound once). */
  private final class IgnoreInsert(c: Connection, d: Dialect, table: String,
                                   cols: Seq[String], keys: Seq[String]) {
    private val (sql, rebindKeys) = d.insertIgnore(table, cols, keys)
    private val keyIdx = keys.map(cols.indexOf)
    val ps: PreparedStatement = c.prepareStatement(sql)

    private def set(i: Int, v: Any): Unit = v match {
      case l: Long => ps.setLong(i, l)
      case n: Int => ps.setInt(i, n)
      case s: String => ps.setString(i, s)
      case b: Boolean => ps.setBoolean(i, b)
      case other => ps.setObject(i, other)
    }

    /** Bind one row (fields in `cols` order) and add it to the batch. */
    def add(row: Product): Unit = {
      row.productIterator.zipWithIndex.foreach { case (v, i) => set(i + 1, v) }
      if (rebindKeys) keyIdx.zipWithIndex.foreach { case (ki, i) =>
        set(row.productArity + i + 1, row.productElement(ki))
      }
      ps.addBatch()
    }
    def executeBatch(): Array[Int] = ps.executeBatch()
    def close(): Unit = ps.close()
  }

  /** Prepared statements reused across all blocks of a micro-batch. */
  private final class BlockStatements(c: Connection, dialect: Dialect) {
    private val dummy = dialect.dummyFrom

    val insSummary = new IgnoreInsert(c, dialect, "summaries",
      Seq("id", "block", "ts", "height", "summary"), Seq("id"))
    val insAti = new IgnoreInsert(c, dialect, "ati",
      Seq("account", "summary"), Seq("account", "summary"))
    val insCti = new IgnoreInsert(c, dialect, "cti",
      Seq("idx", "subidx", "summary"), Seq("idx", "subidx", "summary"))
    val insDelta = new IgnoreInsert(c, dialect, "cis2_deltas",
      Seq("summary", "seq", "idx", "subidx", "token_id", "delta"),
      Seq("summary", "seq"))

    val selTok: PreparedStatement = c.prepareStatement(
      "SELECT total_supply FROM cis2_tokens WHERE idx = ? AND subidx = ? AND token_id = ?")
    val updTok: PreparedStatement = c.prepareStatement(
      """UPDATE cis2_tokens SET total_supply = ?
        |WHERE idx = ? AND subidx = ? AND token_id = ? AND total_supply = ?""".stripMargin)
    val insTok: PreparedStatement = c.prepareStatement(
      "INSERT INTO cis2_tokens (idx, subidx, token_id, total_supply) VALUES (?, ?, ?, ?)")

    val delBindings: PreparedStatement = c.prepareStatement(
      "DELETE FROM bindings WHERE address = ? AND src_id < ?")
    val insBinding: PreparedStatement = c.prepareStatement(
      s"""INSERT INTO bindings (address, src_id, credential_index, key_index, public_key, is_simple_account)
         |SELECT ?, ?, ?, ?, ?, ? $dummy
         |WHERE NOT EXISTS (SELECT 1 FROM bindings WHERE address = ? AND src_id > ?)
         |  AND NOT EXISTS (SELECT 1 FROM bindings WHERE address = ? AND src_id = ?
         |                  AND credential_index = ? AND key_index = ?)""".stripMargin)

    def close(): Unit = {
      Seq(insSummary, insAti, insCti, insDelta).foreach(_.close())
      Seq(selTok, updTok, insTok, delBindings, insBinding).foreach(_.close())
    }
  }
}
