package graft.spark

import org.apache.spark.sql.Dataset
import graft.model.{ExtractedPage, Page}
import graft.Extractor

/** The one Dataset-level extraction path, shared by the batch job
  * (ExtractMain) and the streaming surface (StreamExtract): one narrow
  * mapPartitions over the typed Dataset[Page] carrying the whole per-row stage
  * chain (SURVEY.md §3.2) — nothing materializes between stages, no joins, no
  * shuffle. PlanShapeSpec asserts the plan has no Exchange.
  *
  * Scale design (100 TB / 1000 executors):
  *   - placement is the parquet scan split, which is already byte-bounded
  *     (`spark.sql.files.maxPartitionBytes`); skew from giant pages is capped
  *     per row by `MaxHtmlBytes`/`MaxPdfBytes` in the kernel. Salted
  *     repartitioning and size-sorted or histogram-bucketed placement were
  *     measured and were slower or no faster (ROADMAP findings);
  *   - per-row failures degrade to error rows (the reference's
  *     src/oarocr/ocr.rs:510-523); this job counts nothing, ExtractMain.run
  *     counts rows, errors, bytes and chars per unit.
  */
object ExtractJob {

  def run(pages: Dataset[Page]): Dataset[ExtractedPage] = {
    import pages.sparkSession.implicits._
    // no per-row accumulators here: they cost atomic adds on the hot path
    // and multi-action consumers would double-count. Lineage is counted once,
    // in ExtractMain.run: a UnitStatsAcc on the scratch-write job, audited
    // against the parquet footer row count, with readbackStats as the
    // fallback; the counts land in each unit's TableIO.UnitManifest
    pages.mapPartitions(_.map(Extractor.extract))
  }
}
