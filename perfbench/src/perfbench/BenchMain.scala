package perfbench

import graft.fixtures.FixtureGen
import graft.spark.ExtractMain
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** The extraction benchmark. One run = one workload in one JVM at
  * `local[nproc]`:
  *
  *   1. preparation (untimed): write the workload's input tables and golden
  *      from its FixtureGen row-id window (`curate` also extracts them);
  *   2. set-up, three times: start a SparkSession and run a warm-up over
  *      every row class of the workload; `setup_s` is the median;
  *   3. measurement: repeat the workload's batch job (closed loop, one job
  *      at a time, timed from call to return) as many times as fit in
  *      `--seconds` at the workload's nominal job time, checking every job's
  *      output against the golden outside the timer; end-to-end metrics are
  *      medians over the jobs.
  *
  * With `--trace 1` the measured jobs also feed a SparkListener, `curate`
  * forces each chain stage separately, and a single-thread pass times every
  * kernel layer; the run then reports per-layer metrics instead.
  *
  * The last line of standard output is the result object:
  * {"correct", "attempted", "failed", "metrics"}.
  */
object BenchMain {

  final case class Opts(workload: String = "", seed: Long = 0L, seconds: Double = 10.0, trace: Boolean = false,
      work: String = "", traceOut: String = "")

  /** A workload: how many input rows a seed selects, which rows, whether its
    * job is `ExtractMain.run` or the curation chain, how many of the first
    * rows its warm-up runs on, and the job time that sizes the measured loop:
    * a run measures `seconds / jobS` jobs (at least three), so every run does
    * the same work whatever the host's speed. */
  final case class Workload(name: String, rows: Int, pdfOnly: Boolean, curate: Boolean, warmRows: Int,
      jobS: Double) {
    def jobs(seconds: Double): Int = math.max(3, math.round(seconds / jobS).toInt)

    def ids(seed: Long, n: Int): Array[Long] =
      if (pdfOnly) Corpus.pdfOnly(Corpus.windowStart(seed), n)
      else Corpus.natural(Corpus.windowStart(seed), n)
  }

  val workloads: Seq[Workload] = Seq(
    Workload("crawl_mix", rows = 3000, pdfOnly = false, curate = false, warmRows = 1000, jobS = 2.5),
    Workload("pdf_docs", rows = 3000, pdfOnly = true, curate = false, warmRows = 300, jobS = 2.5),
    Workload("curate", rows = 1000, pdfOnly = false, curate = true, warmRows = 1000, jobS = 2.5))

  val SetupReps = 3

  /** Per-layer metrics (name, unit), in report order. A layer a workload does
    * not exercise reports 0. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "charset.us_per_page" -> "us", "blockbuilder.ns_per_byte" -> "ns/B",
    "blockbuilder.blocks_per_page" -> "count", "classifier.us_per_page" -> "us",
    "classifier.kept_ratio" -> "ratio", "assembler.render_us_per_page" -> "us",
    "assembler.spans_us_per_page" -> "us", "pdf.real_us_per_page" -> "us", "pdf.dialect_us_per_page" -> "us",
    "extractor.row_p50_us" -> "us", "extractor.row_p99_us" -> "us", "extractor.row_max_ms" -> "ms",
    "extractor.kernel_core_s" -> "core-s", "extractor.giant_byte_share" -> "ratio",
    "extractor.giant_time_share" -> "ratio", "extractor.layer_sum_ratio" -> "ratio",
    "extractjob.tasks" -> "count", "extractjob.task_p50_s" -> "s", "extractjob.task_max_s" -> "s",
    "extractjob.run_core_s" -> "core-s", "extractjob.cpu_core_s" -> "core-s", "extractjob.gc_core_s" -> "core-s",
    "extractjob.idle_core_s" -> "core-s", "extractjob.overhead_core_s" -> "core-s",
    "extractjob.records_written" -> "count", "extractjob.bytes_written" -> "B",
    "extractjob.task_failures" -> "count", "extractmain.write_job_s" -> "s", "extractmain.audit_s" -> "s",
    "extractmain.readback_fallbacks" -> "count", "extractmain.commit_s" -> "s",
    "tableio.units_committed" -> "count", "tableio.files_written" -> "count",
    "dedup.exact_s" -> "s", "dedup.dupwindow_s" -> "s", "dedup.simhash_pairs_s" -> "s",
    "dedup.near_pairs" -> "count", "dedup.survivor_ratio" -> "ratio", "sampling.quota_sample_s" -> "s",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "host.steal_pct" -> "%", "host.nproc" -> "count")

  def parse(argv: Array[String]): Opts = {
    var o = Opts()
    argv.grouped(2).foreach {
      case Array("--workload", v) => o = o.copy(workload = v)
      case Array("--seed", v) => o = o.copy(seed = v.toLong)
      case Array("--seconds", v) => o = o.copy(seconds = v.toDouble)
      case Array("--trace", v) => o = o.copy(trace = v == "1")
      case Array("--work", v) => o = o.copy(work = v)
      case Array("--trace-out", v) => o = o.copy(traceOut = v)
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    require(o.work.nonEmpty, "--work is required")
    o
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      // what ExtractMain.main configures for a local[N] master
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", Paths.get(work, "hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Median as Python's statistics.median computes it. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private val t00 = System.nanoTime()
  def phase(p: String): Unit = System.err.println(f"perfbench: ${(System.nanoTime() - t00) / 1e9}%.1f s $p")

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // threads Spark leaves behind would otherwise keep the JVM alive
    sys.exit(code)
  }

  def run(o: Opts): Unit = {
    phase("main")
    val wl = workloads.find(_.name == o.workload)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload '${o.workload}'"))
    val cores = Host.nproc
    val work = o.work
    def path(name: String) = Paths.get(work, name).toString
    Files.createDirectories(Paths.get(work))

    // ---- 1. preparation (untimed) ---------------------------------------
    val tPrep = System.nanoTime()
    var spark = session(work, cores)
    val ids = wl.ids(o.seed, wl.rows)
    val pages = path("pages")
    val golden = path("golden")
    val (info, goldenHashes) = Corpus.write(spark, ids, 2 * cores, wl.warmRows, work, golden = wl.curate)
    var attempted = 0L
    var failed = 0L
    val problems = ArrayBuffer.empty[String]
    // curate reads the table ExtractMain commits
    if (wl.curate) {
      ExtractMain.run(spark, ExtractMain.Args(in = pages, out = path("table")))
      val (a, f) = Corpus.verify(spark, goldenHashes, path("table"))
      attempted += a
      failed += f
      if (f > 0) problems += s"$f of $a rows of the curated table differ from the golden"
    }
    spark.stop()
    val prepS = (System.nanoTime() - tPrep) / 1e9

    // ---- 2. set-up, repeated ----------------------------------------------
    // the warm-up runs the workload's job over the first rows of its input,
    // which hold every row class (the generator's classes repeat every 200
    // rows); curate's warm-up curates their golden texts, and when those are
    // the whole input its digest is the one every measured chain must
    // reproduce
    val warmDigests = ArrayBuffer.empty[(Long, Long)]
    val setups = (1 to SetupReps).map { k =>
      val out = path(s"warm-out-$k")
      val t0 = System.nanoTime()
      spark = session(work, cores)
      if (wl.curate) {
        val c = Curate.chain(spark, spark.read.parquet(path("warm-golden")), Curate.lazyStage)
        warmDigests += Curate.digest(c.result)
        c.release()
      } else ExtractMain.run(spark, ExtractMain.Args(in = path("warm-pages"), out = out))
      val dt = (System.nanoTime() - t0) / 1e9
      Corpus.delete(out)
      if (k < SetupReps) spark.stop()
      dt
    }

    if (warmDigests.distinct.length > 1) problems += s"golden chain digests differ between set-ups: $warmDigests"
    val goldenDigest =
      if (!wl.curate) (0L, 0L)
      else if (wl.warmRows >= wl.rows) warmDigests.head
      else {
        val c = Curate.chain(spark, spark.read.parquet(golden), Curate.lazyStage)
        try Curate.digest(c.result) finally c.release()
      }

    // ---- 3. measurement ---------------------------------------------------
    val listener = if (o.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer
    val walls = ArrayBuffer.empty[Double]
    val outBytes = ArrayBuffer.empty[Double]
    val profiles = ArrayBuffer.empty[(RunProfile, Long, Long)]
    val stageSecs = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val stageRows = scala.collection.mutable.Map.empty[String, Long]
    var survivorRatio = 0.0
    val docs =
      if (wl.curate) Some(spark.read.parquet(graft.spark.TableIO.committedDataPaths(path("table")): _*))
      else None
    phase("setup done")
    val h0 = Host.sample()
    for (job <- 1 to wl.jobs(o.seconds)) {
      if (wl.curate) {
        val root = if (o.trace) tracer.add(-1, -job, "curate.chain", 0L, 0L) else -1
        val stage: (String, ArrayBuffer[DataFrame], () => DataFrame) => DataFrame =
          if (!o.trace) Curate.lazyStage
          else (name, owned, body) => {
            val t0 = System.nanoTime()
            val df = body().persist(StorageLevel.MEMORY_AND_DISK)
            owned += df
            stageRows(name) = df.count()
            val t1 = System.nanoTime()
            tracer.add(root, -job, name, t0, t1)
            stageSecs.getOrElseUpdate(name, ArrayBuffer.empty) += (t1 - t0) / 1e9
            df
          }
        val t0 = System.nanoTime()
        val c = Curate.chain(spark, docs.get, stage)
        val d = Curate.digest(c.result)
        val t1 = System.nanoTime()
        if (o.trace) {
          tracer.spans(root) = tracer.spans(root).copy(start = t0, end = t1)
          if (job == 1) survivorRatio = c.distinct.count().toDouble / math.max(1L, c.docsIn.count())
        }
        c.release()
        walls += (t1 - t0) / 1e9
        attempted += info.rows
        if (d != goldenDigest) {
          failed += info.rows
          problems += s"chain digest $d differs from the golden $goldenDigest"
        }
      } else {
        val out = path(s"out-$job")
        listener.foreach(_.reset())
        val t0ms = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val units = ExtractMain.run(spark, ExtractMain.Args(in = pages, out = out))
        val t1 = System.nanoTime()
        val t1ms = System.currentTimeMillis()
        walls += (t1 - t0) / 1e9
        listener.foreach { l =>
          l.awaitQuiet()
          profiles += ((RunProfile.of(l, t0ms, t1ms, tracer, -job), units.toLong, Corpus.committedFiles(out)))
        }
        val (a, f) = Corpus.verify(spark, goldenHashes, out)
        attempted += a
        failed += f
        if (f > 0) problems += s"job $job: $f of $a rows differ from the golden"
        outBytes += Corpus.committedBytes(out).toDouble
        Corpus.delete(out)
      }
      phase(s"job $job done")
    }
    val h1 = Host.sample()
    val (steal, gcMs, jitMs) = Host.delta(h0, h1)

    // ---- report -------------------------------------------------------------
    val wall = median(walls.toSeq)
    val inBytes =
      if (wl.curate) spark.read.parquet(golden).selectExpr("sum(octet_length(text))").collect()(0).getLong(0)
      else info.htmlBytes
    val storedBytes = if (wl.curate) Corpus.committedBytes(path("table")).toDouble else median(outBytes.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("wall_s", wall, "s"),
        ("pages_per_s", info.rows / wall, "1/s"),
        ("mb_per_core_s", inBytes / 1e6 / (wall * cores), "MB/core-s"),
        ("setup_s", median(setups), "s"),
        ("out_bytes_per_in_byte", storedBytes / info.htmlBytes, "ratio"))
      else {
        val layer = scala.collection.mutable.Map.empty[String, Double]
        if (!wl.curate) {
          val st = KernelPass.run(ids.iterator.map(id => id -> FixtureGen.fixture(id).page), tracer)
          if (st.mismatches > 0)
            problems += s"layer composition differs from Extractor.extract on ${st.mismatches} pages (first ${st.firstMismatch})"
          KernelPass.metrics(st, tracer).foreach { case (k, v, _) => layer(k) = v }
          val kernel = layer("extractor.kernel_core_s")
          def med(f: RunProfile => Double) = median(profiles.map(p => f(p._1)).toSeq)
          layer ++= Seq(
            "extractjob.tasks" -> med(_.tasks), "extractjob.task_p50_s" -> med(_.taskP50S),
            "extractjob.task_max_s" -> med(_.taskMaxS), "extractjob.run_core_s" -> med(_.runCoreS),
            "extractjob.cpu_core_s" -> med(_.cpuCoreS), "extractjob.gc_core_s" -> med(_.gcCoreS),
            "extractjob.idle_core_s" -> med(p => p.writeJobS * cores - p.runCoreS),
            "extractjob.overhead_core_s" -> med(_.runCoreS - kernel),
            "extractjob.records_written" -> med(_.recordsWritten), "extractjob.bytes_written" -> med(_.bytesWritten),
            "extractjob.task_failures" -> profiles.map(_._1.taskFailures).sum,
            "extractmain.write_job_s" -> med(_.writeJobS), "extractmain.audit_s" -> med(_.auditS),
            "extractmain.readback_fallbacks" -> profiles.map(_._1.readbackFallbacks).sum,
            "extractmain.commit_s" -> med(_.commitS),
            "tableio.units_committed" -> median(profiles.map(_._2.toDouble).toSeq),
            "tableio.files_written" -> median(profiles.map(_._3.toDouble).toSeq))
        } else {
          for ((k, v) <- stageSecs) layer(k + "_s") = median(v.toSeq)
          layer("dedup.near_pairs") = stageRows.getOrElse("dedup.simhash_pairs", 0L).toDouble
          layer("dedup.survivor_ratio") = survivorRatio
        }
        layer ++= Seq("jvm.gc_ms" -> gcMs, "jvm.jit_ms" -> jitMs, "host.steal_pct" -> steal,
          "host.nproc" -> cores.toDouble)
        layerMetrics.map { case (k, u) => (k, layer.getOrElse(k, 0.0), u) }
      }
    phase("report")
    if (o.trace && o.traceOut.nonEmpty) tracer.write(Paths.get(o.traceOut))
    spark.stop()

    phase("stopped")
    problems.foreach(p => System.err.println(s"perfbench: $p"))
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    val summary = tracer.summary().toSeq.sortBy(-_._2._3).take(12)
      .map { case (k, (c, t, s)) => f""""$k":{"count":$c,"total_s":${t / 1e9}%.6f,"self_s":${s / 1e9}%.6f}""" }
    println("perfbench context: " + Seq(
      s""""workload":"${wl.name}"""", s""""seed":${o.seed}""", s""""first_row":${ids.head}""",
      s""""rows":${info.rows}""", s""""html_bytes":${info.htmlBytes}""",
      s""""giant_row_share":${num(info.giantRowShare)}""", s""""giant_byte_share":${num(info.giantByteShare)}""",
      s""""pdf_row_share":${num(info.pdfRowShare)}""", s""""host.nproc":$cores""",
      s""""host.steal_pct":${num(steal)}""", s""""jvm.gc_ms":${num(gcMs)}""", s""""jvm.jit_ms":${num(jitMs)}""",
      s""""failed_frac":${num(failed.toDouble / math.max(1L, attempted))}""",
      s""""prep_s":${num(prepS)}""", s""""setup_s_reps":${setups.map(num).mkString("[", ",", "]")}""",
      s""""wall_s_jobs":${walls.map(num).mkString("[", ",", "]")}""",
      s""""self_time_by_span":${summary.mkString("{", ",", "}")}""").mkString("{", ",", "}"))
    val ms = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${problems.isEmpty && failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
    System.out.flush()
  }
}
