package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ingest.{BlockFeed, BlockIngest}
import graft.model.Schemas
import graft.query.QueryApi
import graft.streaming.Migrations

/** Output checks. Every check returns the number of failed operations it
  * found, so a mismatch counts against the run like a failed block or
  * page would. */
object Checks {

  /** One table compared: rows the database has that the derivation does
    * not (`extra`) and the other way round (`missing`), as rendered rows. */
  final case class TableDiff(table: String, expected: Int, missing: Seq[String],
                             extra: Seq[String]) {
    def ok: Boolean = missing.isEmpty && extra.isEmpty
  }

  private def render(r: Row): String = r.toSeq.map(String.valueOf).mkString("|")

  def dbRows(url: String, sql: String): Seq[String] = {
    val c = Migrations.connect(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Seq.newBuilder[String]
      while (rs.next()) out += (1 to n).map(i => String.valueOf(rs.getObject(i))).mkString("|")
      out.result()
    } finally c.close()
  }

  private def diff(table: String, expected: Seq[String], actual: Seq[String]): TableDiff = {
    def counts(xs: Seq[String]) = xs.groupMapReduce(identity)(_ => 1)(_ + _)
    val (e, a) = (counts(expected), counts(actual))
    def minus(x: Map[String, Int], y: Map[String, Int]) =
      x.toSeq.flatMap { case (k, n) => Seq.fill(math.max(0, n - y.getOrElse(k, 0)))(k) }
    TableDiff(table, expected.size, minus(e, a), minus(a, e))
  }

  /** The six serving tables in the database against the batch derivation
    * (`BlockIngest`) over the block feed restricted to heights
    * `[from, until)`. */
  def tables(spark: SparkSession, dataDir: String, url: String,
             from: Long, until: Long): Seq[TableDiff] = {
    val feed = BlockFeed.fromEvents(Tables.events(spark, dataDir))
      .where(col("height") >= from && col("height") < until).cache()
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(render)
    try Seq(
      diff("summaries",
        rows(BlockIngest.summaries(feed).select("id", "block", "timestamp", "height", "summary")),
        dbRows(url, "SELECT id, block, ts, height, summary FROM summaries")),
      diff("ati", rows(BlockIngest.ati(feed).select("account", "summary")),
        dbRows(url, "SELECT account, summary FROM ati")),
      diff("cti", rows(BlockIngest.cti(feed).select("index", "subindex", "summary")),
        dbRows(url, "SELECT idx, subidx, summary FROM cti")),
      diff("cis2_deltas",
        rows(BlockIngest.cis2DeltaRows(BlockIngest.withId(feed))
          .select("summary", "seq", "index", "subindex", "token_id", "delta")),
        dbRows(url, "SELECT summary, seq, idx, subidx, token_id, delta FROM cis2_deltas")),
      diff("cis2_tokens",
        rows(BlockIngest.cis2Tokens(feed).select("index", "subindex", "token_id", "total_supply")),
        dbRows(url, "SELECT idx, subidx, token_id, total_supply FROM cis2_tokens")),
      diff("bindings",
        rows(BlockIngest.keyBindings(feed).select("address", "credential_index", "key_index",
          "public_key", "is_simple_account")),
        dbRows(url, "SELECT address, credential_index, key_index, public_key, " +
          "is_simple_account FROM bindings"))
    ) finally feed.unpersist()
  }

  /** Failed blocks implied by a table comparison: every block with a
    * wrong or missing row in a per-block table, plus one failure per wrong
    * row of the two running-state tables (supply totals, key bindings). */
  def failedBlocks(diffs: Seq[TableDiff]): Long = {
    val perBlock = Set("summaries" -> 3, "ati" -> 1, "cti" -> 2, "cis2_deltas" -> 0)
      .toMap
    val heights = diffs.filter(d => perBlock.contains(d.table)).flatMap { d =>
      (d.missing ++ d.extra).map { r =>
        val f = r.split('|')
        if (d.table == "summaries") f(3).toLong else f(perBlock(d.table)).toLong >> Schemas.SeqBits
      }
    }.toSet
    heights.size.toLong +
      diffs.filterNot(d => perBlock.contains(d.table)).map(d => d.missing.size + d.extra.size).sum
  }

  /** One served page request, as issued. */
  final case class PageReq(kind: String, key: Long, sub: Long, from: Long,
                           limit: Int, ascending: Boolean)

  /** The unserved reference answer for a page: the plain join over the
    * derived tables, with the same cursor and limit. */
  def referencePage(spark: SparkSession, dataDir: String, r: PageReq): Seq[String] = {
    val df = if (r.kind == "contract")
      QueryApi.contractTransactions(Tables.cti(spark, dataDir), Tables.summaries(spark, dataDir),
        r.key, r.sub, r.from, Some(r.limit), r.ascending)
    else
      QueryApi.accountTransactions(Tables.ati(spark, dataDir), Tables.summaries(spark, dataDir),
        lit(r.key), r.from, Some(r.limit), r.ascending)
    df.collect().toSeq.map(render)
  }

  def renderPage(rows: Array[Row]): Seq[String] = rows.toSeq.map(render)
}
