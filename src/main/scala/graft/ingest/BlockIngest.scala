package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.U256
import graft.ingest.BlockFeed.{FeedRow, KeyBinding}
import graft.model.Schemas

/** Derivations of the five reference tables from a block feed
  * (Schemas.blockFeed shape), in two forms that must agree:
  *
  *  - DataFrame→DataFrame transforms — the batch path over a whole feed;
  *  - beside each one, its per-row (or per-block) plain-Scala rule over
  *    [[BlockFeed.FeedRow]]s, which [[graft.streaming.TransactionalSink]]
  *    applies inside each block's transaction, matching the reference's
  *    per-finalization write path (`insert_block`, main.rs:543-574).
  *    The DataFrame form is the reference the rule is pinned against
  *    (`BlockRowRulesSpec`).
  *
  * Scale notes (100 TB design):
  *  - ids are deterministic (`height*2^20 + seq`), so writes are
  *    idempotent under task retry — no `monotonically_increasing_id`,
  *    no driver round-trips (replaces `RETURNING id`, main.rs:219);
  *  - fan-outs are `explode` (Generator) — narrow, no shuffle;
  *  - the only shuffles are the keyed aggregations (token supply, key
  *    bindings), both keyed on bounded-cardinality keys with map-side
  *    partial aggregation;
  *  - nothing collects to the driver.
  */
object BlockIngest {

  /** Deterministic, order-preserving summary id (SURVEY §7.4). */
  def summaryId(height: Column, seq: Column): Column =
    (height * Schemas.SeqMod + seq).cast("long")

  def summaryId(r: FeedRow): Long = r.height * Schemas.SeqMod + r.seq_in_block

  /** Feed + derived id — base for all other derivations. */
  def withId(feed: DataFrame): DataFrame =
    feed.withColumn("id", summaryId(col("height"), col("seq_in_block")))

  private def envelope: Column =
    when(col("is_special"), concat(lit("{\"Right\":"), col("payload_json"), lit("}")))
      .otherwise(concat(lit("{\"Left\":"), col("payload_json"), lit("}")))

  private def envelope(r: FeedRow): String =
    (if (r.is_special) "{\"Right\":" else "{\"Left\":") + r.payload_json + "}"

  /** `summaries`: one row per feed item, JSON envelope preserved
    * byte-compatibly (`{"Left":…}` user tx / `{"Right":…}` protocol
    * event, main.rs:99-109). */
  def summaries(feed: DataFrame): DataFrame =
    withId(feed).select(
      col("id"),
      col("block_hash").as("block"),
      col("block_time_ms").as("timestamp"),
      col("height"),
      envelope.as("summary"))

  /** [[summaries]] of one feed row: (id, block, timestamp, height, summary). */
  def summaryOf(r: FeedRow): (Long, String, Long, Long, String) =
    (summaryId(r), r.block_hash, r.block_time_ms, r.height, envelope(r))

  /** `summaries` plus the sender column (the reference derives it from
    * the JSON on the read path, `sender_account()`, postgres.rs:51-62;
    * null for protocol events and credential deployments). One
    * projection — no self-join, single parquet scan. */
  def summariesWithSender(feed: DataFrame): DataFrame =
    withId(feed).select(
      col("id"),
      col("block_hash").as("block"),
      col("block_time_ms").as("timestamp"),
      col("height"),
      envelope.as("summary"),
      col("sender"))

  /** `ati` fan-out: one row per (deduped affected account, summary) —
    * the explode of `affected_addresses()` (main.rs:322-329, 357-413).
    * Dedup is per-summary (`array_distinct`), mirroring the reference's
    * per-summary `seen` set (main.rs:826-856) — cheap, narrow, no
    * shuffle. */
  def ati(feed: DataFrame): DataFrame =
    withId(feed).select(
      explode(array_distinct(col("affected_accounts"))).as("account"),
      col("id").as("summary"))

  /** [[ati]] of one feed row: (account, summary). */
  def atiOf(r: FeedRow): Seq[(Long, Long)] =
    r.affected_accounts.distinct.map(a => (a, summaryId(r)))

  /** `cti` fan-out (main.rs:331-352). */
  def cti(feed: DataFrame): DataFrame =
    withId(feed).select(
      explode(array_distinct(col("affected_contracts"))).as("c"),
      col("id").as("summary"))
      .select(col("c.index").as("index"), col("c.subindex").as("subindex"), col("summary"))

  /** [[cti]] of one feed row: (index, subindex, summary). */
  def ctiOf(r: FeedRow): Seq[(Long, Long, Long)] =
    r.affected_contracts.distinct.map(c => (c.index, c.subindex, summaryId(r)))

  /** Per-batch CIS-2 supply deltas: signed decimal-string amounts keyed by
    * `(index, subindex, token_id)`. `mint` adds, `burn` subtracts,
    * everything else is a no-op (main.rs:461-504). The running total is
    * this aggregated over all history (batch) or merged into the sink via
    * `INSERT … ON CONFLICT DO UPDATE` (streaming, main.rs:222-251). */
  def cis2Deltas(feed: DataFrame): DataFrame =
    cis2DeltaRows(withId(feed)).drop("summary", "seq")

  /** CIS-2 deltas keyed by (summary id, position) — the append-only,
    * idempotently-writable form the streaming sink persists (each delta
    * has a natural PK, so replays dedup instead of double-applying;
    * SURVEY §7.4 exactly-once). */
  def cis2DeltaRows(feedWithId: DataFrame): DataFrame =
    feedWithId.select(col("id").as("summary"),
        posexplode(col("cis2_events")).as(Seq("seq", "e")))
      .where(col("e.kind").isin("mint", "burn"))
      .select(
        col("summary"), col("seq"),
        col("e.index").as("index"),
        col("e.subindex").as("subindex"),
        col("e.token_id").as("token_id"),
        when(col("e.kind") === "burn", concat(lit("-"), col("e.amount")))
          .otherwise(col("e.amount")).as("delta"))

  /** One [[cis2DeltaRows]] row; `seq` is the event's position in
    * `cis2_events`, so non-mint/burn events still take up a position. */
  final case class Cis2Delta(summary: Long, seq: Int, index: Long, subindex: Long,
                             token_id: String, delta: String)

  /** [[cis2DeltaRows]] of one feed row. */
  def cis2DeltasOf(r: FeedRow): Seq[Cis2Delta] =
    r.cis2_events.zipWithIndex.collect {
      case (e, seq) if e.kind == "mint" || e.kind == "burn" =>
        Cis2Delta(summaryId(r), seq, e.index, e.subindex, e.token_id,
          if (e.kind == "burn") "-" + e.amount else e.amount)
    }

  /** `cis2_tokens`: full-history running supply as arbitrary-precision
    * decimal strings (NUMERIC(80,0) analog; exceeds Decimal(38), SURVEY
    * §7.4). One shuffle on the token key; partial aggregation applies
    * because the BigInt aggregator is merge-associative. */
  def cis2Tokens(feed: DataFrame): DataFrame =
    cis2Deltas(feed)
      .groupBy("index", "subindex", "token_id")
      .agg(U256.sumBig(col("delta")).as("total_supply"))

  /** `account_public_key_bindings`: last-write-wins snapshot per account
    * (delete-then-insert per address in the reference, main.rs:506-540).
    * The latest key-update per account is selected by max id (block
    * order, then intra-block order — README.md:99-101), then its binding
    * array is flattened. `max_by` keeps the aggregation single-pass with
    * map-side partials; the explode after it is narrow. */
  def keyBindings(feed: DataFrame): DataFrame =
    withId(feed)
      .where(col("key_bindings").isNotNull)
      // the binding snapshot belongs to the account whose keys changed:
      // the sender, or for account creation (no sender) the created
      // account = first affected address (main.rs:686-701, 730-758).
      .select(coalesce(col("sender"), col("affected_accounts").getItem(0)).as("address"),
        col("id"), col("key_bindings"))
      .groupBy("address")
      .agg(max_by(col("key_bindings"), col("id")).as("kb"))
      .select(col("address"), explode(col("kb")).as("b"))
      .select(
        col("address"),
        col("b.public_key").as("public_key"),
        col("b.credential_index").as("credential_index"),
        col("b.key_index").as("key_index"),
        col("b.is_simple_account").as("is_simple_account"))

  /** [[keyBindings]] over the rows of ONE block: the latest snapshot per
    * address, as (address, source summary id, snapshot), by address. A
    * row with neither sender nor affected account names no address and
    * is skipped. */
  def latestBindingsOf(block: Seq[FeedRow]): Seq[(Long, Long, Seq[KeyBinding])] =
    block.flatMap(r => for {
      kb <- r.key_bindings
      address <- r.sender.orElse(r.affected_accounts.headOption)
    } yield (address, summaryId(r), kb))
      .groupMapReduce(_._1)(identity)((a, b) => if (b._2 > a._2) b else a)
      .values.toSeq.sortBy(_._1)

  /** A4 — alias canonicalization: resolve each (possibly aliased) account
    * to its canonical address by prefix equality against a canonical
    * dimension (the reference compares the first 29 of 32 address bytes,
    * `AccountAddressEq`, main.rs:133-146, with a node-warmed cache,
    * main.rs:762-784). `dim(prefix → canonical)` is small relative to the
    * fact side, so it is broadcast — no shuffle of the fact table.
    *
    * @param df        any DataFrame with an account column
    * @param accountCol the column holding (possibly aliased) addresses
    * @param dim       canonical dimension: columns (prefix, canonical)
    * @param prefixOf  expression mapping an address to its alias-class key
    */
  def canonicalize(df: DataFrame, accountCol: String, dim: DataFrame,
                   prefixOf: Column => Column): DataFrame = {
    val keyed = df.withColumn("__prefix", prefixOf(col(accountCol)))
    keyed.join(broadcast(dim), keyed("__prefix") === dim("prefix"), "left")
      .withColumn(accountCol, coalesce(col("canonical"), col(accountCol)))
      .drop("__prefix", "prefix", "canonical")
  }

  /** A11 — resume point: height of the row with the greatest id
    * (`SELECT height … ORDER BY id DESC LIMIT 1`, main.rs:577-588).
    * `max_by` = single aggregation, no global sort. */
  def resumeHeight(summaries: DataFrame): DataFrame =
    summaries.agg(max_by(col("height"), col("id")).as("height"))
}
