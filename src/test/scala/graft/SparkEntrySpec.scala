package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver contract keeps no state: every `SparkEntry.queries` entry is a
  * pure function of (session, dir), and whatever a query persists is Spark's
  * to release (`spark.catalog.clearCache()`). Runs at sf0.001 (TESTDATA.md). */
class SparkEntrySpec extends AnyFunSuite {

  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.001"

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-spark-entry-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def run(name: String, dir: String = sfDir): DataFrame =
    SparkEntry.queries(name)(spark, dir)
  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def rowStrings(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  test("x01_extract leaves no persistent RDD behind") {
    spark.catalog.clearCache()
    assert(persistentRdds.isEmpty)
    assert(run("x01_extract").collect().nonEmpty)
    assert(persistentRdds.isEmpty)
  }

  for (name <- Seq("x13_stream_extract", "x14_stream_dedup"))
    test(s"$name returns the same rows twice in one session and leaves no sink view") {
      val first = rowStrings(run(name))
      assert(first.nonEmpty)
      assert(rowStrings(run(name)) == first)
      val sinks = spark.catalog.listTables().collect().map(_.name).filter(_.contains("_sink_"))
      assert(sinks.isEmpty, s"memory sinks left registered: ${sinks.mkString(", ")}")
    }

  test("x15_curation's persists are all released by clearCache") {
    assert(run("x15_curation").collect().nonEmpty)
    spark.catalog.clearCache()
    assert(persistentRdds.isEmpty)
  }

  test("m03_media_witness derives media ids from sparse doc_ids as the oracle does") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sparse-docs").toString
    Seq((0L, "a"), (5L, "b"), (9L, "c")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val ids = run("m03_media_witness", dir).select("media_id").as[Long].collect().toSeq
    assert(ids == Seq(0L, 1L, 10L, 11L, 18L, 19L))
  }
}
