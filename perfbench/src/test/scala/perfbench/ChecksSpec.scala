package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BlockStores, ServingMirrors}
import graft.streaming.{BlockStreamPipeline, Dialect, Migrations}

/** The benchmark's output checks must pass on the program's real output
  * and fail once a table row or a served page is corrupted. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = Files.createTempDirectory("perfbench-checks").toString
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", s"$root/warehouse")
    .getOrCreate()
  private val data = s"$root/data"
  private val url = s"jdbc:derby:$root/db;create=true"

  override def beforeAll(): Unit = {
    // 40 blocks of 8 events in the generator's layout
    spark.range(320).selectExpr(
      "id AS event_id",
      "timestamp_micros(1704067200000000L + id * 1000000L) AS ts",
      "id * 7 % 23 AS user_id",
      "element_at(array('purchase', 'click', 'view', 'signup', 'error'), " +
        "CAST(id % 5 + 1 AS INT)) AS event_type",
      "CAST(id % 13 AS DOUBLE) + 0.25 AS value",
      "concat('{\"k\": ', CAST(id % 100 AS STRING), '}') AS props")
      .coalesce(1).write.parquet(s"$data/events.parquet")
    val feed = Feed.load(spark, data)
    val store = new BenchStore(feed)
    store.setCap(39)
    BlockStores.register("perfbench", store)
    Migrations.migrate(url, Dialect.Derby)
    BlockStreamPipeline.startFromStore(spark, "perfbench", s"$root/ckpt", url, Dialect.Derby,
      availableNow = true).awaitTermination()
  }

  override def afterAll(): Unit = spark.stop()

  private def exec(sql: String): Unit = {
    val c = Migrations.connect(url)
    try c.createStatement().executeUpdate(sql) finally c.close()
  }

  test("the streamed tables pass the check, and each corruption fails it") {
    val clean = Checks.tables(spark, data, url, 0, 40)
    assert(clean.forall(_.ok), clean.filterNot(_.ok))
    assert(Checks.failedBlocks(clean) == 0)
    assert(clean.map(_.expected).min > 0)

    val Array(account, summary) = Checks.dbRows(url,
      "SELECT account, summary FROM ati ORDER BY summary, account FETCH FIRST 1 ROWS ONLY")
      .head.split('|')
    exec(s"DELETE FROM ati WHERE account = $account AND summary = $summary")
    val Array(idx, subidx, token) = Checks.dbRows(url,
      "SELECT idx, subidx, token_id FROM cis2_tokens ORDER BY idx, subidx, token_id " +
        "FETCH FIRST 1 ROWS ONLY").head.split('|')
    exec(s"UPDATE cis2_tokens SET total_supply = '123456789' " +
      s"WHERE idx = $idx AND subidx = $subidx AND token_id = '$token'")
    val bad = Checks.tables(spark, data, url, 0, 40)
    assert(bad.filterNot(_.ok).map(_.table).toSet == Set("ati", "cis2_tokens"))
    // one block lost an ati row, one supply total is wrong (two rows differ)
    assert(Checks.failedBlocks(bad) == 3)
  }

  test("a page equal to the reference passes; a corrupted page does not") {
    val (ati, sums) = ServingMirrors.atiSummaries(spark, data)
    val (cti, _) = ServingMirrors.ctiSummaries(spark, data)
    val req = Checks.PageReq("account", 7, 0, 0L, 5, ascending = true)
    val (rows, _, _) = Pages.serve(ati, sums, cti, req)
    val page = Checks.renderPage(rows)
    assert(page.nonEmpty)
    assert(Checks.referencePage(spark, data, req) == page)
    assert(Checks.referencePage(spark, data, req) != page.reverse.updated(0, "corrupt"))
    val contract = Checks.PageReq("contract", 7 % 50, 7 % 3, Long.MaxValue, 5, ascending = false)
    val (crows, _, _) = Pages.serve(ati, sums, cti, contract)
    assert(Checks.referencePage(spark, data, contract) == Checks.renderPage(crows))
  }

  test("page requests are a function of the seed and follow the feed's index entries") {
    val feed = Feed.load(spark, data)
    val a = Pages.requests(5, feed, 20, n = 2000)
    assert(a == Pages.requests(5, feed, 20, n = 2000))
    assert(a != Pages.requests(6, feed, 20, n = 2000))
    val rows = feed.rows.toSeq.flatten
    val accounts = rows.flatMap(_.affected_accounts.distinct)
    val contracts = rows.flatMap(_.affected_contracts.distinct).map(c => (c.index, c.subindex))
    assert(a.filter(_.kind == "account").forall(r => accounts.contains(r.key)))
    assert(a.filter(_.kind == "contract").forall(r => contracts.contains((r.key, r.sub))))
    // the share of contract pages is the share of contract entries
    val share = contracts.size.toDouble / (accounts.size + contracts.size)
    assert(math.abs(a.count(_.kind == "contract").toDouble / a.size - share) < 0.05)
  }
}
