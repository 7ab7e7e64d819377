package graft.spark

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Page

/** The spark-submit entry point (north rule: the same job runs unchanged at N
  * and 4N executors, resumable from the last committed snapshot).
  *
  * {{{
  * spark-submit --class graft.spark.ExtractMain graft.jar \
  *   --in  <parquet dir of Page rows | fixture:<nRows>> \
  *   --out <output table root> \
  *   [--units 64] [--group-size 8] [--salt 0] [--size-sort] [--fail-after-groups -1]
  * }}}
  *
  * Execution model (scale design for 10^12 rows):
  *   - the input is split into `units` deterministic url-hash buckets
  *     (pmod(xxhash64(url), units)) — the commit/resume granularity;
  *   - ONE extraction job per run writes every pending unit to scratch
  *     parquet partitioned by unit (the input is scanned once per run — no
  *     per-group re-scan, no bucketed-input assumption), then units are
  *     published `groupSize` at a time via TableIO.commitUnit (data rename
  *     before manifest, both atomic) together with their lineage counters;
  *   - on restart, committed units are skipped (the anti-join of pending
  *     against lineage — here a set difference because the manifest set is
  *     tiny and driver-side; at 10^12 scale with millions of units it becomes
  *     `pending.join(lineage, "unit", "left_anti")` as in SURVEY.md §4);
  *   - `html` never crosses a shuffle: the only wide exchange is the optional
  *     skew salt inside ExtractJob.run, and the scratch write partitions by a
  *     column computed in the same stage as the extraction.
  *
  * `--fail-after-groups k` injects a crash after k committed groups — the
  * resume test drives it (ResumeSpec).
  */
object ExtractMain {

  final case class Args(
      in: String = "",
      out: String = "",
      units: Int = 64,
      groupSize: Int = 8,
      salt: Int = 0,
      sizeSort: Boolean = false,
      failAfterGroups: Int = -1,
      master: Option[String] = None)

  def parseArgs(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--in" => a = a.copy(in = argv(i + 1)); i += 2
        case "--out" => a = a.copy(out = argv(i + 1)); i += 2
        case "--units" => a = a.copy(units = argv(i + 1).toInt); i += 2
        case "--group-size" => a = a.copy(groupSize = argv(i + 1).toInt); i += 2
        case "--salt" => a = a.copy(salt = argv(i + 1).toInt); i += 2
        case "--size-sort" => a = a.copy(sizeSort = true); i += 1
        case "--fail-after-groups" => a = a.copy(failAfterGroups = argv(i + 1).toInt); i += 2
        case "--master" => a = a.copy(master = Some(argv(i + 1))); i += 2
        case other => throw new IllegalArgumentException(s"unknown arg $other")
      }
    }
    require(a.in.nonEmpty && a.out.nonEmpty, "--in and --out are required")
    a
  }

  def pagesFor(spark: SparkSession, in: String): Dataset[Page] = {
    import spark.implicits._
    if (in.startsWith("fixture:")) {
      val n = in.stripPrefix("fixture:").toLong
      spark.range(n).as[Long]
        .mapPartitions(_.map(i => graft.fixtures.FixtureGen.fixture(i).page))
    } else {
      spark.read.parquet(in)
        .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
        .as[Page]
    }
  }

  final class InjectedFailure(msg: String) extends RuntimeException(msg)

  /** Per-unit lineage counters accumulated inside the scratch-write job
    * (layout: rows, ok, err, bytesIn, chars). Keyed adds merge elementwise;
    * the driver reads the final map once after the write action. */
  final class UnitStatsAcc
      extends org.apache.spark.util.AccumulatorV2[(Int, Array[Long]), Map[Int, Array[Long]]] {
    private val m = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
    override def isZero: Boolean = m.isEmpty
    override def copy(): UnitStatsAcc = {
      val c = new UnitStatsAcc
      for ((k, v) <- m) c.m(k) = v.clone()
      c
    }
    override def reset(): Unit = m.clear()
    override def add(v: (Int, Array[Long])): Unit = {
      val arr = m.getOrElseUpdate(v._1, new Array[Long](5))
      var i = 0
      while (i < 5) { arr(i) += v._2(i); i += 1 }
    }
    override def merge(other: org.apache.spark.util.AccumulatorV2[(Int, Array[Long]), Map[Int, Array[Long]]]): Unit =
      other match {
        case o: UnitStatsAcc =>
          for ((k, v) <- o.m) {
            val arr = m.getOrElseUpdate(k, new Array[Long](5))
            var i = 0
            while (i < 5) { arr(i) += v(i); i += 1 }
          }
        case _ => throw new UnsupportedOperationException(s"cannot merge ${other.getClass}")
      }
    override def value: Map[Int, Array[Long]] = m.toMap
  }

  /** Exact per-unit lineage recomputed from the written scratch output (one
    * aggregation scan) — the fallback when the in-flight accumulator
    * disagrees with the written row count (a stage retry applied a partition
    * twice, or a plan change moved the counting map out of the result
    * stage). Slower but ground truth: it aggregates what is ON DISK. */
  private[graft] def readbackStats(spark: SparkSession,
      scratch: String): Map[Int, (Long, Long, Long, Long, Long)] =
    spark.read.parquet(scratch)
      .groupBy("unit")
      .agg(count(lit(1)).as("rows"),
        sum(when(col("error") === "", 1L).otherwise(0L)).as("ok"),
        sum(when(col("error") =!= "", 1L).otherwise(0L)).as("err"),
        sum(col("htmlBytes")).as("bytes"),
        // length() counts code points on UTF8String, matching the
        // accumulator's codePointCount
        sum(length(col("text")).cast("long")).as("chars"))
      .collect()
      .map(r => r.getAs[Int]("unit") ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap

  /** Run (or resume) the job; returns the number of units committed by THIS
    * invocation. Separated from main() so tests drive it in-process. */
  def run(spark: SparkSession, a: Args): Int = {
    import spark.implicits._
    TableIO.init(a.out)
    TableIO.cullScratch(a.out)
    val runId = java.util.UUID.randomUUID.toString.take(8)
    val committed = TableIO.committedUnits(a.out)
    val pending = (0 until a.units).filterNot(committed)
    if (pending.isEmpty) return 0

    val pages = pagesFor(spark, a.in)
    val scratch = TableIO.scratchDir(a.out, runId)
    // ONE extraction job writes ALL pending units (scratch partitioned by
    // unit), then manifests publish group-by-group. The per-group version of
    // this loop re-filtered the complete input once per group — units/
    // groupSize full scans unless the input table was physically bucketed by
    // xxhash64(url)%units. Now the input is scanned exactly once per run
    // regardless of bucketing (ResumeSpec asserts the job count).
    // unit id is a pure function of url: deterministic across runs and
    // parallelism levels — the resume key
    val unitOf = pmod(xxhash64(col("url")), lit(a.units.toLong)).cast("int")
    val slice =
      if (committed.isEmpty) pages // fresh run: no filter at all
      else pages.filter(unitOf.isin(pending: _*)).as[Page]
    val extracted = ExtractJob.run(slice, a.salt, a.sizeSort)
    // lineage counters ride INSIDE the write job via a per-unit accumulator
    // on a pass-through row map — one pass over the output total, no
    // second scan of scratch (result-stage accumulator updates are applied
    // once per successful partition; speculation is off). Exactly-once is
    // AUDITED after the write: acc row total vs the footer-metadata count of
    // what was written, with readbackStats as the exact fallback on mismatch.
    val acc = new UnitStatsAcc
    spark.sparkContext.register(acc, "unit-lineage")
    val out = extracted.toDF()
      // the SAME unitOf val as the resume filter above — a re-typed copy
      // here could silently diverge under a one-sided edit, writing rows
      // into units the run never commits
      .withColumn("unit", unitOf)
      .withColumn("crawl_date", to_date(col("warc_ts")))
    val schema = out.schema
    val (ui, ei, bi, ti) = (schema.fieldIndex("unit"), schema.fieldIndex("error"),
      schema.fieldIndex("htmlBytes"), schema.fieldIndex("text"))
    out.mapPartitions { it =>
      it.map { r =>
        val err = r.getString(ei)
        val text = r.getString(ti)
        val ok = err == null || err.isEmpty
        acc.add((r.getInt(ui), Array(
          1L,
          if (ok) 1L else 0L,
          if (ok) 0L else 1L,
          r.getLong(bi),
          // code points, matching SQL length() semantics
          if (text == null) 0L else text.codePointCount(0, text.length).toLong)))
        r
      }
    }(org.apache.spark.sql.Encoders.row(schema))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("unit")
      .parquet(scratch)
    // exactly-once audit: accumulator updates apply once per successful
    // result-stage partition, but a stage RETRY (fetch failure on a real
    // cluster) or a future plan change inserting a shuffle between the map
    // and the write would silently inflate rows/ok/err/bytes/chars. The
    // written row count is free from parquet footers; on mismatch fall back
    // to an exact readback aggregation over scratch (the pre-r4 path).
    // Measured alternative, rejected: readbackStats alone (no accumulator, no
    // audit) made the write job faster (no Row round-trip, 2.85 s -> 2.46 s)
    // but the readback cost more than the footer count it replaced (0.81 s ->
    // 1.01 s): perfbench crawl_mix median wall_s +5.0 % (3.83 -> 4.03 s),
    // worse in 6 of 6 alternating pairs, 4-core VM.
    val accStats = acc.value
    val accRows = accStats.valuesIterator.map(_(0)).sum
    // explicit schema: a zero-row write leaves only _SUCCESS in scratch and
    // schema INFERENCE would throw (partition columns come from dir names,
    // of which there are none) — the audit must not crash an empty-input run
    val written = spark.read.schema(schema).parquet(scratch).count() // parquet footers: metadata-only
    val stats: Map[Int, (Long, Long, Long, Long, Long)] =
      if (accRows == written)
        accStats.map { case (u, c) => u -> ((c(0), c(1), c(2), c(3), c(4))) }
      else readbackStats(spark, scratch)
    // publish in groups: a crash between group commits leaves a resumable
    // prefix (the --fail-after-groups injection point, ResumeSpec)
    var done = 0
    var groups = 0
    pending.grouped(a.groupSize).foreach { group =>
      if (a.failAfterGroups >= 0 && groups >= a.failAfterGroups)
        throw new InjectedFailure(s"injected crash after $groups groups")
      val now = System.currentTimeMillis()
      for (u <- group) {
        val (rows, ok, err, bytes, chars) = stats.getOrElse(u, (0L, 0L, 0L, 0L, 0L))
        TableIO.commitUnit(a.out, runId,
          TableIO.UnitManifest(u, runId, rows, ok, err, bytes, chars, now))
        done += 1
      }
      groups += 1
    }
    done
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val builder = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.session.timeZone", "UTC")
    // master comes from spark-submit on a real cluster; --master is the
    // sandbox/local override
    a.master.foreach { m =>
      // size shuffle partitions to the core count ONLY for the local[N]
      // shape; stripping digits from an arbitrary master would turn
      // spark://host:7077 into 7077 partitions
      val parts = "^local\\[([0-9]+)\\]$".r.findFirstMatchIn(m)
        .map(_.group(1)).getOrElse("32")
      builder.master(m).config("spark.sql.shuffle.partitions", parts)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = run(spark, a)
    val ms = TableIO.readManifests(a.out)
    println(s"committed $n units this run; table now ${ms.length}/${a.units} units, " +
      s"rows=${ms.map(_.rows).sum} ok=${ms.map(_.pagesOk).sum} err=${ms.map(_.pagesErr).sum} " +
      s"bytesIn=${ms.map(_.bytesIn).sum}")
    spark.stop()
  }
}
