package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The scan spread's size guard ([[Tables.spread]]) probes regular files
  * only: a parquet directory's `Files.size` is its inode's, so a
  * corpus-sized multi-part table would otherwise pass as "small". */
class TablesSpec extends SparkSpec {

  test("the scan spread fires for a small parquet file, never for a parquet directory") {
    val dir = Files.createTempDirectory("graft-spread").resolve("t.parquet").toString
    spark.range(100).coalesce(1).write.parquet(dir)
    val file = Files.list(Paths.get(dir)).iterator.asScala
      .map(_.toString).find(_.endsWith(".parquet")).get
    def spreadOf(path: String) = {
      val df = spark.read.parquet(path)
      Tables.spread(spark, path, df) ne df
    }
    assert(spark.sparkContext.defaultParallelism > 1)
    assert(spreadOf(file))
    assert(!spreadOf(dir))
  }
}
