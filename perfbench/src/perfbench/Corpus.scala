package perfbench

import graft.fixtures.FixtureGen
import graft.spark.TableIO
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Workload inputs: FixtureGen row-id windows written as parquet `Page`
  * tables, plus the grammar-derived golden text of every row. */
object Corpus {

  /** First row id of the window a seed selects. Windows are disjoint and
    * aligned to FixtureGen's 200-row class period, so every seed gets the
    * same mix of row classes over different content. */
  def windowStart(seed: Long): Long = Math.floorMod(seed, 100000L) * 1000000L

  /** `n` consecutive row ids: the natural FixtureGen mix. */
  def natural(from: Long, n: Int): Array[Long] = Array.tabulate(n)(i => from + i)

  /** The first `n` PDF row ids at or after `from`: dialect PDFs at
    * rowId % 50 == 1 and real `%PDF-1.x` files at rowId % 50 == 26. */
  def pdfOnly(from: Long, n: Int): Array[Long] = {
    val base = from - Math.floorMod(from, 50L)
    Iterator.from(0).flatMap(k => Iterator(base + 50L * k + 1, base + 50L * k + 26))
      .filter(_ >= from).take(n).toArray
  }

  final case class Gen(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte], text: String,
      lang: String, expected: String, warm: Boolean)

  final case class Info(rows: Long, htmlBytes: Long, giantRows: Long, giantBytes: Long, pdfRows: Long) {
    def giantRowShare: Double = if (rows == 0) 0.0 else giantRows.toDouble / rows
    def giantByteShare: Double = if (htmlBytes == 0) 0.0 else giantBytes.toDouble / htmlBytes
    def pdfRowShare: Double = if (rows == 0) 0.0 else pdfRows.toDouble / rows
  }

  /** Generate the rows `ids` once and write, under `dir`, the input table
    * `pages` (the `Page` columns only, in `files` parquet files of contiguous
    * ids) and either the warm-up table `warm-pages` (the first `warmRows`
    * rows, one file) or, with `golden`, the golden tables `golden` and
    * `warm-golden` (url, lang, golden text as `text`, an empty `error`).
    * Returns the input's size and row classes, and url -> xxhash64 of the
    * golden text. */
  def write(spark: SparkSession, ids: Array[Long], files: Int, warmRows: Int, dir: String,
      golden: Boolean): (Info, Map[String, Long]) = {
    import spark.implicits._
    val warm = ids.take(warmRows).toSet
    val gen = spark.sparkContext.parallelize(ids.toSeq, files).map { id =>
      val f = FixtureGen.fixture(id)
      val p = f.page
      Gen(p.url, p.warc_ts, p.html, p.text, p.lang, f.expectedText, warm(id))
    }.toDS().persist(StorageLevel.MEMORY_AND_DISK)
    def out(name: String) = Paths.get(dir, name).toString
    try {
      val pages = gen.select("url", "warc_ts", "html", "text", "lang")
      pages.write.parquet(out("pages"))
      if (golden) {
        val g = gen.select(col("url"), col("lang"), col("expected").as("text"), lit("").as("error"))
        g.write.parquet(out("golden"))
        g.where(gen("warm")).coalesce(1).write.parquet(out("warm-golden"))
      } else pages.where(gen("warm")).coalesce(1).write.parquet(out("warm-pages"))
      val rows = gen.select(col("url"), xxhash64(col("expected")), length(col("html")),
        substring(col("html"), 1, 4) === lit("%PDF".getBytes("US-ASCII"))).collect()
      val sizes = rows.map(_.getInt(2).toLong)
      val giant = sizes.filter(_ >= KernelPass.GiantBytes)
      (Info(rows.length, sizes.sum, giant.length, giant.sum, rows.count(_.getBoolean(3)).toLong),
        rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
    } finally gen.unpersist(false)
  }

  /** Golden gate for one committed `ExtractMain` table: a golden row fails if
    * it is missing, an error row, or its text differs from the golden
    * (compared by xxhash64); every committed row beyond the golden count
    * (a duplicate or an extra row) is a failure too. Returns (attempted,
    * failed). */
  def verify(spark: SparkSession, golden: Map[String, Long], table: String): (Long, Long) = {
    val paths = TableIO.committedDataPaths(table)
    val got =
      if (paths.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else spark.read.parquet(paths: _*).select(col("url"), col("error"), xxhash64(col("text"))).collect()
    val matched = scala.collection.mutable.HashSet.empty[String]
    for (r <- got) {
      val url = r.getString(0)
      if (r.getString(1) == "" && golden.get(url).contains(r.getLong(2))) matched += url
    }
    (golden.size.toLong, (golden.size - matched.size).toLong + math.max(0L, got.length.toLong - golden.size))
  }

  /** Bytes of the committed parquet files of a table. */
  def committedBytes(table: String): Long =
    TableIO.committedDataPaths(table).map { d =>
      val s = Files.list(Paths.get(d))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size).sum
      finally s.close()
    }.sum

  def committedFiles(table: String): Long =
    TableIO.committedDataPaths(table).map { d =>
      val s = Files.list(Paths.get(d))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
      finally s.close()
    }.sum

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
  }
}
