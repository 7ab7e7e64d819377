package perfbench

import graft.ops.{Dedup, Sampling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** The curation chain of the `curate` workload over extracted documents
  * (columns url, lang, text, error):
  *
  *   1. `Dedup.exact` — one canonical document per content;
  *   2. `Dedup.dupWindowStats` (n=8, xx64 keys) — drop documents whose
  *      8-token windows are at least 75 % duplicated corpus-wide;
  *   3. `Dedup.simhashPairs` — drop the larger id of every near-duplicate pair;
  *   4. `Sampling.sourceQuota` (k=25 per host) and
  *   5. `Sampling.hashSample` (12 of 16 hash nibbles).
  *
  * `stage` wraps each step: an identity in measured runs, where the whole
  * chain is forced once; in traced runs it materializes and times each step
  * separately. */
object Curate {

  final class Chain(val result: DataFrame, val owned: ArrayBuffer[DataFrame],
      val docsIn: DataFrame, val distinct: DataFrame) {
    def release(): Unit = { owned.foreach(_.unpersist(false)); owned.clear() }
  }

  def chain(spark: SparkSession, docs: DataFrame,
      stage: (String, ArrayBuffer[DataFrame], () => DataFrame) => DataFrame): Chain = {
    val owned = ArrayBuffer.empty[DataFrame]
    val ex = docs.filter(col("error") === "" && length(col("text")) > 0)
      .select(col("url"), col("lang"), col("text"))
    val kept = stage("dedup.exact", owned, () => {
      val canon = Dedup.exact(ex, "text", "url").select(col("canonical_id").cast("string").as("url"))
      ex.join(canon, Seq("url"), "left_semi")
        .withColumn("host", regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1))
        .withColumn("uid", xxhash64(col("url")))
    }).persist(StorageLevel.MEMORY_AND_DISK)
    owned += kept
    val clean = stage("dedup.dupwindow", owned, () => {
      val dw = Dedup.dupWindowStats(kept, n = 8, textCol = "text", idCol = "uid", oracleKeys = false)
      owned += dw
      kept.join(dw.filter(col("dup_pct") < 75).select(col("doc_id").as("uid")), Seq("uid"), "left_semi")
    })
    val near = stage("dedup.simhash_pairs", owned, () =>
      Dedup.simhashPairs(spark, clean.select(col("uid").as("doc_id"), col("text"))))
    val distinct = clean.join(near.select(col("doc_b").as("uid")), Seq("uid"), "left_anti")
    val sampled = stage("sampling.quota_sample", owned, () =>
      Sampling.hashSample(Sampling.sourceQuota(distinct, k = 25, keyCol = "host", idCol = "uid"),
        keepNibbles = 12, idCol = "uid"))
    val result = sampled.select(col("url"), col("host"), col("lang"), length(col("text")).as("text_len"))
    new Chain(result, owned, ex, distinct)
  }

  /** Measured runs: the chain is composed lazily and forced once. */
  val lazyStage: (String, ArrayBuffer[DataFrame], () => DataFrame) => DataFrame = (_, _, body) => body()

  /** Force a result through a full-width hash aggregate, so no column can be
    * pruned and no join eliminated: (digest, rows). */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(bit_xor(xxhash64(struct(col("*")))).as("d"), count(lit(1)).as("n")).collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }
}
