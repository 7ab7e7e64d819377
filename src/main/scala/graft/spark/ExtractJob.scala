package graft.spark

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.model.{ExtractedPage, Page}
import graft.Extractor

/** The Spark-native extraction pipeline: one narrow mapPartitions over the
  * typed Dataset[Page] carrying the whole per-row stage chain (SURVEY.md
  * §3.2) — nothing materializes between stages, no joins, and the single
  * shuffle (optional) is the explicit skew-salting repartition.
  *
  * Scale design (100 TB / 1000 executors):
  *   - `html` is projected away immediately after extraction; only the
  *     extracted columns ever cross a shuffle boundary;
  *   - giant pages / hot domains are spread by repartitioning on
  *     xxhash64(url) + a size-class salt so one straggler partition cannot
  *     hold several multi-MB pages (the reference's dynamic batching /
  *     oversize clamping analogue,
  *     /root/reference/src/core/batch/dynamic/processor.rs:432-511);
  *   - per-row failures degrade to error rows (the reference's
  *     src/oarocr/ocr.rs:510-523); this job counts nothing, ExtractMain.run
  *     counts rows, errors, bytes and chars per unit.
  */
object ExtractJob {

  def run(pages: Dataset[Page], salt: Int = 0, sizeSort: Boolean = false): Dataset[ExtractedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val input =
      if (salt > 0) {
        // explicit skew spread: repartition on the FULL-cardinality hash of
        // (url, size) so hot domains and giant pages scatter. Folding the
        // hash into [0,salt) first and repartitioning on that would re-hash
        // the few dense values through murmur3 — colliding salt classes into
        // shared partitions and leaving ~1/e of them empty (the exact
        // pitfall runBucketed documents and probes around below)
        pages
          .repartition(salt, xxhash64(col("url"), length(col("html"))))
          .as[Page]
      } else pages
    // intra-partition size ordering — the reference's aspect-ratio sort
    // before batching (/root/reference/src/oarocr/ocr.rs:733-746): similar-
    // sized pages run consecutively (allocator/JIT locality), no shuffle
    // (sortWithinPartitions is a narrow, spillable per-partition sort)
    val batched =
      if (sizeSort) input.sortWithinPartitions(length(col("html")))
      else input
    // no per-row accumulators here: they cost atomic adds on the hot path
    // and multi-action consumers would double-count. Lineage is counted once,
    // in ExtractMain.run: a UnitStatsAcc on the scratch-write job, audited
    // against the parquet footer row count, with readbackStats as the
    // fallback; the counts land in each unit's TableIO.UnitManifest
    batched.mapPartitions(_.map(Extractor.extract))
  }

  /** Histogram-budget batching — the analogue of the reference's aspect
    * buckets with per-bucket batch budgets
    * (/root/reference/src/core/batch/dynamic/config.rs:61-84): pages group
    * into log2(size) classes, each class gets ceil(classBytes/target)
    * partitions, so every partition holds similar-sized pages AND a bounded
    * byte budget (a partition of 2 MB pages gets far fewer rows than one of
    * 2 KB pages — no mixed-size stragglers).
    *
    * The histogram pass re-reads the size column; at 100 TB persist a
    * byte-length metadata column at ingest and aggregate that instead of
    * length(html). */
  def runBucketed(pages: Dataset[Page],
      targetBytesPerPartition: Long = 256L << 20): Dataset[ExtractedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val cls = ceil(log2(greatest(length(col("html")).cast("long"), lit(2L)))).cast("int")
    val hist = pages
      // coalesce: a size class whose every row has null html would sum to
      // SQL NULL and NPE the driver's getLong before any extraction ran
      .select(cls.as("cls"), coalesce(length(col("html")).cast("long"), lit(0L)).as("len"))
      .groupBy("cls").agg(sum("len").as("bytes"))
      .collect() // <= ~40 rows: one per size class
      .map(r => r.getInt(0) -> math.max(1L,
        (r.getLong(1) + targetBytesPerPartition - 1) / targetBytesPerPartition))
      .sortBy(_._1)
    val offsets = hist.scanLeft(0L)(_ + _._2).init
    val budget = hist.zip(offsets).map { case ((c, b), off) => c -> (off, b) }.toMap
    val total = math.max(1L, hist.map(_._2).sum).toInt
    // repartition(n, col) HASH-partitions the column value, which would remap
    // our dense indices through murmur3 and collide different size classes
    // into one partition. Probe, per dense index k, a long whose murmur3
    // lands exactly on k (coupon-collector over incrementing candidates;
    // HashPartitioning = pmod(murmur3(value, seed=42), n)) — rows then land
    // in EXACTLY the budgeted partition: no empties, no cross-class mixing.
    val probes = new Array[Long](total)
    val found = new Array[Boolean](total)
    var filled = 0
    var cand = 0L
    while (filled < total) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(cand, 42)
      val slot = ((h % total) + total) % total
      if (!found(slot)) { found(slot) = true; probes(slot) = cand; filled += 1 }
      cand += 1
    }
    val partExpr = hist.foldLeft(lit(0L)) { case (acc, (c, _)) =>
      val (off, b) = budget(c)
      when(cls === c, lit(off) + pmod(xxhash64(col("url")), lit(b))).otherwise(acc)
    }
    run(pages
      .withColumn("__p", element_at(lit(probes), partExpr.cast("int") + 1))
      .repartition(total, col("__p"))
      .drop("__p")
      .as[Page], salt = 0, sizeSort = true)
  }
}
