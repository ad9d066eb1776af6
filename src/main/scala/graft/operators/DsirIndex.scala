package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted DSIR feature table — the production form of the t25
  * contract, mirroring [[DedupIndex]] (reference scope: lakeflush has
  * no data selection; this is the §2.11 training-pipeline extension).
  *
  * A 100 TB pipeline never re-featurizes the lake per selection run:
  * the bigram explode + md5 bucketing is the dominant per-occurrence
  * cost of [[Curation.dsirSelect]] (measured volume-linear,
  * BENCH_r17_probe.json), and it is a pure function of (text,
  * buckets) — so it is paid ONCE per document, persisted as the
  * reduced occurrence table
  *
  *   - `features` (id, bucket, n)  — ~min(doc_len, buckets) rows/doc,
  *     fixed-width, never raw text
  *
  * plus a one-row `meta` pinning the bucket count.
  * [[Curation.dsirSelectIndexed]] takes `buckets` FROM the index, so
  * a selection can never mix features hashed with a different bucket
  * count. The TARGET domain is deliberately NOT baked in: DSIR's
  * point is features once, importance weights per target — the target
  * id set joins at select time, so one index serves every domain.
  * [[append]] folds each day's delta in (parquet append, delta-sized
  * work), which is what keeps day-N selection cost tracking the delta.
  */
object DsirIndex {

  private val FormatVersion = 1

  final case class Meta(buckets: Int)

  /** Build and persist the feature table over `docs` at `path`. */
  def write(path: String, docs: DataFrame, idCol: Column, textCol: Column,
            buckets: Int = 4096): Unit = {
    features(docs, idCol, textCol, buckets)
      .write.mode("overwrite").parquet(s"$path/features")
    import docs.sparkSession.implicits._
    Seq((FormatVersion, buckets)).toDF("version", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    loadedIxs.invalidate(path)
  }

  /** Featurize a day's delta with the INDEX's bucket count and append
    * it — delta-sized work, no corpus re-explode. The caller owns id
    * uniqueness (re-appending an id would double its counts, exactly
    * as re-appending to any keyed parquet table would).
    */
  def append(path: String, delta: DataFrame, idCol: Column,
             textCol: Column): Unit = {
    val meta = readMeta(delta.sparkSession, path)
    features(delta, idCol, textCol, meta.buckets)
      .write.mode("append").parquet(s"$path/features")
    loadedIxs.invalidate(path)
  }

  // ---- day-versioned layout (the IncrementalPipeline sidecar) ------- //
  // features land under features/v=<ver> (one partition dir per
  // committed pipeline version) instead of flat appends. Two properties
  // the flat layout lacks, both needed to ride the pipeline's
  // crash-retry machinery:
  //  - IDEMPOTENT day replay: a retried day OVERWRITES its own v=<ver>
  //    partition rather than double-appending its (id, bucket, n) rows
  //    (doubled n doubles the doc's weight — silent corruption);
  //  - TORN-APPEND invisibility: selects filter v <= the committed
  //    pipeline version, so a day that crashed after the feature write
  //    but before the state commit contributes nothing until its
  //    retry commits (the same horizon discipline as index/*).

  /** Bootstrap the versioned layout: the base corpus's features under
    * `features/v=<ver>` plus the meta pin.
    */
  def writeVersioned(path: String, docs: DataFrame, idCol: Column,
                     textCol: Column, buckets: Int = 4096,
                     ver: Int = 1): Unit = {
    features(docs, idCol, textCol, buckets)
      .write.mode("overwrite").parquet(s"$path/features/v=$ver")
    import docs.sparkSession.implicits._
    Seq((FormatVersion, buckets)).toDF("version", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    loadedIxs.invalidate(path)
  }

  /** Day-versioned [[append]]: the delta's features REPLACE
    * `features/v=<ver>` (idempotent crash-retry — see the layout note
    * above).
    */
  def appendVersioned(path: String, delta: DataFrame, idCol: Column,
                      textCol: Column, ver: Int): Unit = {
    val meta = readMeta(delta.sparkSession, path)
    features(delta, idCol, textCol, meta.buckets)
      .write.mode("overwrite").parquet(s"$path/features/v=$ver")
    loadedIxs.invalidate(path)
  }

  /** [[load]] over the versioned layout, pruned to partitions at or
    * below the committed version — uncommitted (torn) day partitions
    * never reach a select.
    */
  def loadUpTo(spark: SparkSession, path: String,
               maxVer: Int): (DataFrame, Meta) =
    (spark.read.parquet(s"$path/features")
       .filter(col("v") <= maxVer)
       .select(col("id"), col("bucket").as("_b"), col("n").as("_n")),
     readMeta(spark, path))

  /** The persisted (id, bucket, n) shape of one corpus slice. */
  def features(docs: DataFrame, idCol: Column, textCol: Column,
               buckets: Int): DataFrame =
    Curation.dsirOccurrences(docs, idCol, textCol, None, buckets)
      .select(col("id"), col("_b").as("bucket"), col("_n").as("n"))

  /** Small-file maintenance for the feature table
    * ([[Compactor.compactTableIf]]): each [[append]] lands one
    * file-set, so a year of day-N appends degrades every indexed
    * select with per-file open/footer costs. Row-preserving (OPTIMIZE
    * rewrites bytes, never rows — the select is hash-identical before
    * and after); run it after appends, it no-ops below `maxFiles`.
    *
    * @return true when the table was rewritten
    */
  def maintain(spark: SparkSession, path: String, maxFiles: Int = 256,
               targetBytes: Long = 128L * 1024 * 1024): Boolean = {
    val rewrote = Compactor.compactTableIf(s"$path/features", maxFiles,
      targetBytes)(spark)
    if (rewrote) loadedIxs.invalidate(path)
    rewrote
  }

  /** Load the feature table (internal `_b`/`_n` names restored) and
    * its construction parameters.
    */
  def load(spark: SparkSession, path: String): (DataFrame, Meta) =
    (spark.read.parquet(s"$path/features")
       .select(col("id"), col("bucket").as("_b"), col("n").as("_n")),
     readMeta(spark, path))

  private[graft] val loadedIxs = IndexMemo[(DataFrame, Meta)]("meta", "features")

  /** [[load]] through the serve-path [[IndexMemo]] — the serving path
    * for repeated selections against one index.
    */
  def loadOnce(spark: SparkSession, path: String): (DataFrame, Meta) =
    loadedIxs.getOrLoad(spark, path)(load(spark, path))

  private def readMeta(spark: SparkSession, path: String): Meta = {
    val m = spark.read.parquet(s"$path/meta").collect()
    require(m.length == 1,
      s"dsir index at $path: meta must be one row, got ${m.length}")
    val v = m(0).getAs[Int]("version")
    require(v == FormatVersion,
      s"dsir index at $path: format version $v, expected $FormatVersion")
    Meta(m(0).getAs[Int]("buckets"))
  }

  /** [[write]] to a managed temp dir, once per (corpus plan + backing
    * files, buckets) per session; returns the index path. Keying,
    * staleness and cleanup semantics live in [[BuildOnce]].
    */
  def writeOnce(docs: DataFrame, idCol: Column, textCol: Column,
                buckets: Int = 4096): String = {
    val key = BuildOnce.keyOf(docs.select(idCol, textCol), s"dsir:$buckets")
    BuildOnce.dirFor(key, "graft-dsir-ix")(
      write(_, docs, idCol, textCol, buckets))
  }
}
