package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import org.apache.spark.sql.functions._

/** Physical-plan audit for the headline queries at the smoke scale (sf0.001,
  * TESTDATA.md): the plan shapes that matter at 100 TB — filter/projection
  * pushdown into the parquet scan, broadcast joins for the small side,
  * partial aggregation instead of corpus-wide Windows, whole-stage codegen
  * for the native expressions. Every must-contain / must-not-contain string
  * is one test, named `<plan>: contains '<s>'` or `<plan>: no '<s>'`, and a
  * failure prints the whole plan. Each plan is built once, when its first
  * test runs; `df.explain()` prints any of them by hand.
  */
class PlanShapeSpec extends AnyFunSuite {

  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.001"

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plan-shape-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def table(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")
  private def documents: DataFrame = table("documents")
  private def simple(df: DataFrame): String = df.queryExecution.explainString(SimpleMode)
  private def planOf(query: String): String = simple(SparkEntry.queries(query)(spark, sfDir))

  /** One test per expected and per forbidden substring of `plan`. */
  private def shape(name: String, mustContain: Seq[String], mustNot: Seq[String] = Nil)(
      plan: => String): Unit = {
    lazy val p = plan
    for (m <- mustContain) test(s"$name: contains '$m'") {
      assert(p.contains(m), s"missing '$m' in plan:\n$p")
    }
    for (m <- mustNot) test(s"$name: no '$m'") {
      assert(!p.contains(m), s"unexpected '$m' in plan:\n$p")
    }
  }

  // r01: aggregation must be partial (map-side combine, partial_ before the
  // exchange) and the executed plan codegen'd (AQE hides codegen markers in
  // SimpleMode until the plan is finalized, so run it and inspect)
  private lazy val r01df = SparkEntry.queries("r01_agg")(spark, sfDir)
  shape("r01_agg", Seq("HashAggregate", "partial_count"))(simple(r01df))
  // '*' prefix = WholeStageCodegen in Spark 4 formatted explain
  shape("r01_agg executed (codegen)", Seq("* HashAggregate", "* ColumnarToRow")) {
    r01df.collect()
    r01df.queryExecution.explainString(FormattedMode)
  }

  // r02: explicit broadcast of orders must become a BroadcastHashJoin
  shape("r02_join_agg", Seq("BroadcastHashJoin"), Seq("SortMergeJoin"))(planOf("r02_join_agg"))

  // d01: projection pruning — scan must read only doc_id + text
  shape("d01_text_stats", Seq("ReadSchema: struct<doc_id:bigint,text:string>"))(
    planOf("d01_text_stats"))

  // filter pushdown reaches the parquet source
  shape("pushdown", Seq("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)")) {
    simple(table("lineitem").filter(col("l_orderkey") === 42).select("l_orderkey", "l_quantity"))
  }

  // d03: query side must broadcast; corpus side must NOT shuffle before
  // join; top-k must be the bounded-heap mapPartitions, NOT a window rank
  // (a window would put the whole scored corpus in one partition per query)
  shape("d03_ann_topk", Seq("BroadcastNestedLoopJoin"), Seq("Window"))(planOf("d03_ann_topk"))

  // d04: the near-dup product is a blocked broadcast JOIN — the block is
  // built by the executors at execution time, never collected to the driver
  // — fed from the persisted (vec_id, embedding, nrm) projection so the
  // B block branches scan the corpus once (InMemoryTableScan), not 2B times.
  // Audited on the LAZY plan (nearDupPairsPlan): planOf on the query itself
  // would EXECUTE the whole materializing near-dup job just to read a plan.
  shape("d04_embed_neardup (lazy plan)",
      Seq("BroadcastNestedLoopJoin", "InMemoryTableScan"), Seq("Window")) {
    val (union, nd) = ops.Similarity.nearDupPairsPlan(table("embeddings"), 0.45, maxBroadcast = 64)
    try simple(union) finally nd.unpersist()
  }

  // d05: minhash signatures must come from the persisted relation (one
  // shingle+permutation pass feeding banding AND both verify sides) —
  // audited on the lazy (materialize = false) plan, nothing executed; the
  // plan-only persist markers it registers are dropped right after, so they
  // cannot show up as InMemoryTableScan in the plans below
  shape("d05_minhash (lazy plan)", Seq("InMemoryTableScan")) {
    try simple(ops.Dedup.minhashPairs(spark, documents, threshold = 0.7, materialize = false))
    finally spark.catalog.clearCache()
  }

  // d16/d19: the segment-dedup winner and the per-source quota must be
  // partial-aggregation shapes, NEVER a corpus-wide Window — a window
  // `partition by segment/source` funnels every copy of a hot key (a
  // boilerplate line duplicated 10^9 times, a hot domain) through ONE
  // reducer with no map-side relief
  shape("d16_seg_dedup", Seq("HashAggregate"), Seq("Window"))(planOf("d16_seg_dedup"))
  shape("d19_source_quota", Seq("MapPartitions"), Seq("Window"))(planOf("d19_source_quota"))
  // d22: the benchmark gram set must BROADCAST into the corpus-side join
  // (the eval set is always the small side; a SortMergeJoin here would
  // shuffle every corpus gram)
  shape("d22_decontaminate", Seq("BroadcastHashJoin"), Seq("SortMergeJoin"))(
    planOf("d22_decontaminate"))
  // d33: incremental-crawl dedup — the seen side must carry the Bloom
  // prefilter (the broadcast-probing lambda, embedded by Catalyst as a
  // row-level Filter invoke — no Serialize/Deserialize pair) so only
  // batch-colliding seen keys reach the anti-join; no Window anywhere.
  shape("d33_incremental", Seq("LeftAnti", "graft.ops.Dedup"), Seq("Window"))(
    planOf("d33_incremental"))
  // d27: duplicate-window stats must be aggregate shapes end to end —
  // global gram counts via ONE partial HashAggregate over the exploded
  // windows (the singleton-complement formulation has no gram persist and
  // no gram-keyed join-back, so no InMemoryTableScan is expected), and
  // NEVER a corpus Window `partition by gram` (a boilerplate 8-gram
  // duplicated 10^9 times would funnel through one reducer) — audited on
  // the lazy (materialize = false) plan, nothing executed
  shape("d27_dup_windows (lazy plan)", Seq("HashAggregate"), Seq("Window", "InMemoryTableScan")) {
    simple(ops.Dedup.dupWindowStats(documents, n = 8, materialize = false))
  }
  // d38: DSIR weights — the bucket log-ratio table (<= `buckets` rows)
  // must BROADCAST into the corpus-side per-doc sum (a SortMergeJoin
  // there would shuffle the whole per-(doc,bucket) relation against a
  // 256-row table), and per-doc weights must never use a Window —
  // audited on the lazy (materialize = false) plan, nothing executed
  shape("d38_dsir_weights (lazy plan)", Seq("BroadcastHashJoin", "HashAggregate"), Seq("Window")) {
    simple(ops.Sampling.dsirWeights(documents, documents.filter(col("doc_id") % 7 === 0),
      materialize = false))
  }
  // d40: same audit for the perplexity scorer — LM table broadcasts,
  // per-doc NLL is aggregate-shaped, never a Window
  shape("d40_unigram_ppl (lazy plan)", Seq("BroadcastHashJoin", "HashAggregate"), Seq("Window")) {
    simple(ops.Sampling.unigramNll(documents, documents, materialize = false))
  }
  // d42: the removal pass must be aggregate + join-back shapes — the
  // gram verdicts come from a partial HashAggregate and rejoin the window
  // stream on the short key, never a corpus Window `partition by gram`
  // (one boilerplate 8-gram duplicated 10^9 times would funnel through a
  // single reducer) — audited on the lazy (materialize = false) plan,
  // nothing executed, no persist markers taken
  shape("d42_dup_removal (lazy plan)", Seq("HashAggregate"),
      Seq("Window", "InMemoryTableScan", "CartesianProduct")) {
    simple(ops.Dedup.removeDupWindows(documents, n = 8, materialize = false))
  }
  // d41: SemDeDup must be one narrow assignment map into ONE cell-keyed
  // exchange feeding per-cell tasks (MapGroups) — never a corpus
  // self-join (the ε-graph is local), never a Window, never iterative
  // label propagation reading caches. Lazy plan: nothing executes.
  shape("d41_semdedup (lazy plan)", Seq("MapGroups"),
      Seq("Window", "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
        "InMemoryTableScan")) {
    simple(ops.Similarity.semDedup(table("embeddings"), ops.Similarity.planesFor(16, 8, 7L), 0.7))
  }
  // d43: the vocabulary top-k must be TakeOrderedAndProject (bounded
  // per-partition top-k, k rows to the driver) over a partial aggregate —
  // never a global Sort of the vocabulary or a Window rank
  shape("d43_vocab", Seq("TakeOrderedAndProject", "HashAggregate"), Seq("Window"))(
    planOf("d43_vocab"))
  // d23: packing must be the two-phase scan over the sorted RDD (the
  // object handoff prints as SerializeFromObject over Scan[obj]) — a
  // `Window` here would mean the global single-task cumsum crept back in.
  // NOTE: unlike d04/d05 there is no lazy plan mode — the operator is
  // eager by nature (phase 1 collects per-partition sums), so planOf runs
  // its two narrow passes over (id, count) pairs at this audit's sf. That
  // is the documented cost of auditing it, not an execute-to-audit bug.
  shape("d23_seq_pack", Seq("SerializeFromObject"), Seq("Window"))(planOf("d23_seq_pack"))
  // d24: same eager-by-nature caveat as d23 (the label-propagation loop
  // must run to converge); the audit sees the persisted converged labels
  shape("d24_components", Seq("InMemoryTableScan"), Seq("Window"))(planOf("d24_components"))
  // d20: the hash-split operator itself is a pure narrow filter — no
  // exchange at all (the driver query's orderBy adds one for the oracle's
  // deterministic dump, so audit the bare operator)
  shape("d20_hash_sample (operator)", Nil, Seq("Exchange"))(simple(ops.Sampling.hashSample(documents, 8)))

  // d25/d26: the native text expressions must sit in a plain Project over
  // the scan — no exchange, no BatchEvalPython/fallback wrapper; the
  // codegen'd executed plan is asserted via the WholeStageCodegen marker
  for ((nm, bare) <- Seq[(String, () => DataFrame)](
      "d25_nfc (operator)" -> (() => ops.TextOps.nfcNormalize(documents, col("text"))),
      "d26_canon_url (operator)" -> (() => ops.TextOps.canonUrls(documents,
        concat(lit("http://h/"), col("doc_id")))))) {
    lazy val df = bare()
    shape(nm, Seq("Project"), Seq("Exchange"))(simple(df))
    shape(s"$nm executed (codegen)", Seq("*(1) Project"))(df.queryExecution.executedPlan.toString)
  }

  // token family: the native scans must execute inside whole-stage
  // codegen (the whole point — the HOF forms they replaced were
  // interpreted), and the window-key explode must be a codegen'd
  // Generate over a codegen'd Project, with no fallback wrapper
  private lazy val tokenKeys = documents.select(col("doc_id"),
    explode(functions.TokenFunctions.windowXx64Keys(ops.TextOps.asciiTokens(col("text")), 8))
      .as("gkey"))
  shape("token family (operator)", Seq("Generate"), Seq("Exchange"))(simple(tokenKeys))
  shape("token family executed (codegen)", Seq("*(1) Generate"), Seq("BatchEvalPython"))(
    tokenKeys.queryExecution.executedPlan.toString)
  shape("token count executed (codegen)", Seq("*(1) Project")) {
    documents.select(ops.TextOps.asciiTokenCount(col("text")).as("n"))
      .queryExecution.executedPlan.toString
  }

  // d45: the blocklist suffix chain must be all-broadcast LEFT joins —
  // the corpus side never exchanges (the only Exchange allowed is the
  // one-row-per-host dedup agg of the tiny blocklist itself, which sits
  // under a BroadcastExchange); d46: the line fix is a pure narrow
  // projection. Audit the bare operators (the driver queries' orderBy
  // adds a range exchange for the oracle dump).
  private lazy val d45 = {
    val sp = spark
    import sp.implicits._
    val hosts = documents.select(col("doc_id"), concat(col("source"), lit(".example.com")).as("host"))
    val blDf = Seq(("src1.example.com", "adult")).toDF("host", "category")
    simple(ops.WebFilters.blocklistFilter(hosts, blDf))
  }
  shape("d45_blocklist (operator)", Seq("BroadcastHashJoin"),
    Seq("SortMergeJoin", "ShuffledHashJoin"))(d45)
  // all four suffix levels must be broadcast joins, and the ONLY
  // hash-partitioned exchange allowed is the blocklist's own one-row-
  // per-host dedup agg (keyed bl_host) under its BroadcastExchange —
  // any other Exchange means the corpus moved
  test("d45_blocklist: 4 broadcast joins (one per level)") {
    val nBhj = d45.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(nBhj == 4, s"$nBhj BroadcastHashJoin, expected 4, in plan:\n$d45")
  }
  test("d45_blocklist: corpus side never exchanges") {
    val corpusShuffled = d45.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("bl_host"))
    assert(!corpusShuffled, s"corpus-side exchange found in plan:\n$d45")
  }
  shape("d46_line_fix (operator)", Seq("Project"), Seq("Exchange"))(
    simple(ops.WebFilters.lineFix(documents)))

  // d06: both ends of each simhash pair are counted from ONE reference to
  // the lazy pair set; a self-union of it would plan the banded
  // flatMapGroups subtree (MapGroups) twice and run it twice
  test("d06_simhash: exactly one MapGroups (pair set computed once)") {
    val p = planOf("d06_simhash")
    val n = p.linesIterator.count(_.contains("MapGroups"))
    assert(n == 1, s"$n MapGroups, expected 1, in plan:\n$p")
  }

  // extraction: `html` never crosses a shuffle. ExtractJob.run is one
  // narrow map over the Page scan, and ExtractMain's scratch write
  // partitions by a column computed in the same stage as the extraction.
  private lazy val pageDir = {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-pages").resolve("pages").toString
    sp.range(40).as[Long].map(i => fixtures.FixtureGen.fixture(i).page).write.parquet(dir)
    dir
  }
  shape("ExtractJob.run over a Page scan", Seq("MapPartitions", "FileScan parquet"), Seq("Exchange")) {
    val sp = spark
    import sp.implicits._
    simple(graft.spark.ExtractJob.run(sp.read.parquet(pageDir).as[model.Page]).toDF())
  }
  shape("ExtractMain scratch write", Seq("InsertIntoHadoopFsRelationCommand", "MapPartitions"),
      Seq("Exchange hashpartitioning")) {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("InsertIntoHadoopFsRelationCommand")) writes.add(p)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = java.nio.file.Files.createTempDirectory("graft-plan-extract").toString
      graft.spark.ExtractMain.run(spark, graft.spark.ExtractMain.Args(in = pageDir, out = out, units = 4))
      // listener events post asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.IterableHasAsScala(writes).asScala.mkString("\n")
  }
}
