package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The persistent MinHash signature catalog, stored PRE-BANDED and
  * partitioned by band-key bucket — the 100 TB shape for incremental and
  * streaming near-dedup state (r7 verdict item 1).
  *
  * Layout: parquet under `dir`, partitioned by `bucket =
  * band_key mod numBuckets`, rows `(band, band_key, id, __sig, added)` —
  * one row per (doc, band), the signature carried on each row, files
  * sorted by `band_key` within every bucket. What each piece buys:
  *
  *  - **partition pruning**: a micro-batch's docs hash into a bounded
  *    set of buckets; the catalog read carries a `bucket IN (…)`
  *    partition filter, so per-trigger work is O(matching buckets), not
  *    O(catalog). The flat layout this replaces re-read and re-banded
  *    the ENTIRE catalog every trigger.
  *  - **row-group skipping**: when the batch's distinct band keys fit
  *    under `maxPushdownKeys`, the read also pushes `band_key IN (…)`
  *    into the parquet scan; with files sorted by band_key, min/max
  *    stats skip non-matching row groups inside the surviving buckets.
  *  - **pre-banding**: banding is computed once at append time (the
  *    signatures were just computed anyway), never again at read.
  *  - **`added` tag**: a caller-supplied monotone batch tag enabling
  *    age-based retention at [[compact]] — a year-long stream can stop
  *    deduplicating against dead crawls.
  *
  * Storage, compaction, rebucket and maintenance are the shared
  * [[BucketedStore]], whose scaladoc holds the crash contract. Every
  * reader tolerates duplicate catalog rows — candidate hits are
  * deduplicated per (new, old) pair and signatures per id.
  *
  * Storage: ~`bands`× the flat (id, __sig) layout (the signature rides
  * every band row). At 10⁹ survivors × 16 bands × ~550 B ≈ 8 TB — the
  * right trade against a full-catalog scan per trigger. `numBuckets`
  * should scale with the expected survivor count (default 64; a 10⁹-doc
  * catalog wants a few thousand so single buckets stay file-sized).
  */
object BandedCatalog {

  val DefaultBuckets = 64

  /** Distinct band keys above this are not pushed as an IN filter (the
    * planner cost of giant literal lists outweighs row-group skipping);
    * bucket-level partition pruning still applies. */
  val DefaultMaxPushdownKeys = 20000

  /** Data schema as read back (bucket is the partition column). */
  private val DataSchema = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("band_key", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("__sig", ArrayType(LongType), nullable = true),
    StructField("added", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false)))

  def bucketOf(bandKey: Column, numBuckets: Int): Column =
    BucketedStore.bucketOf(bandKey, numBuckets)

  /** Layout, compaction, rebucket and maintenance: a doc's duplicate
    * band rows collapse to one, keeping the latest `added` tag (so
    * retention ages a re-seen doc from its most recent sighting). */
  private val store = new BucketedStore("banded catalog", DataSchema,
    "band_key",
    _.groupBy(col("bucket"), col("band"), col("band_key"), col("id"))
      .agg(first(col("__sig")).as("__sig"), max(col("added")).as("added")),
    readMeta(_, _).map(_.numBuckets))

  // ------------------------------------------------------------- meta

  /** Banding parameters are part of the LAYOUT: reading with different
    * (bands, rowsPerBand) silently misses duplicates, a different
    * numBuckets makes partition pruning drop the wrong buckets. They are
    * recorded once at first append and asserted on every open. */
  case class Meta(numBuckets: Int, bands: Int, rowsPerBand: Int, shingleSize: Int)

  private def metaPath(dir: String) = new Path(dir, "_graft_catalog.json")

  private def writeMeta(spark: SparkSession, dir: String, m: Meta): Unit =
    BucketedStore.writeText(spark, metaPath(dir),
      s"""{"numBuckets":${m.numBuckets},"bands":${m.bands},"rowsPerBand":${m.rowsPerBand},"shingleSize":${m.shingleSize}}""")

  def readMeta(spark: SparkSession, dir: String): Option[Meta] =
    BucketedStore.readText(spark, metaPath(dir)).map { text =>
      def field(name: String): Int =
        s""""$name":(\\d+)""".r.findFirstMatchIn(text)
          .map(_.group(1).toInt)
          .getOrElse(throw new IllegalStateException(
            s"banded catalog meta at ${metaPath(dir)} is missing '$name': $text"))
      Meta(field("numBuckets"), field("bands"), field("rowsPerBand"),
        field("shingleSize"))
    }

  private def requireMeta(
      spark: SparkSession, dir: String, m: Meta): Unit =
    readMeta(spark, dir).foreach { have =>
      require(have == m,
        s"banded catalog at $dir was written with $have; " +
          s"opening it with $m would silently miss duplicates")
    }

  // ---------------------------------------------------------- append

  /** Band + bucket a flat `(id, __sig)` signature frame into catalog
    * rows. `added` tags every row with the caller's batch marker. */
  def bandRows(
      signatures: DataFrame, bands: Int, rowsPerBand: Int,
      numBuckets: Int, added: Long): DataFrame =
    Dedup.bandKeys(signatures, bands, rowsPerBand)
      .select(col("band"), col("band_key"), col("id"), col("__sig"),
        lit(added).as("added"),
        bucketOf(col("band_key"), numBuckets).as("bucket"))

  /** Append a batch of survivor signatures (flat `(id, __sig)` rows —
    * the [[Dedup.minhashNearCatalog]] shape). One shuffle on the bucket
    * key and a per-bucket sort, so each trigger writes at most one
    * band_key-sorted file per touched bucket. */
  def append(
      signatures: DataFrame, dir: String,
      bands: Int = 16, rowsPerBand: Int = 4,
      numBuckets: Int = DefaultBuckets, shingleSize: Int = 5,
      added: Long = 0L): Unit = {
    val spark = signatures.sparkSession
    val m = Meta(numBuckets, bands, rowsPerBand, shingleSize)
    requireMeta(spark, dir, m)
    // meta BEFORE the first data write: a crash between the two must
    // leave a readable (empty-but-typed) catalog, never data rows whose
    // layout nothing records (BucketedStore.rejectOrphanData)
    if (readMeta(spark, dir).isEmpty) {
      store.rejectOrphanData(spark, dir)
      writeMeta(spark, dir, m)
    }
    store.write(bandRows(signatures, bands, rowsPerBand, numBuckets, added), dir)
  }

  // ------------------------------------------------------------ read

  /** The whole catalog (empty frame before first append). */
  def read(spark: SparkSession, dir: String): DataFrame =
    if (readMeta(spark, dir).isEmpty) {
      store.rejectOrphanData(spark, dir)
      store.empty(spark)
    } else store.readAll(spark, dir)

  /** The catalog rows a batch of banded keys can possibly match:
    * partition-prunes to the batch's buckets — by building the relation
    * over only those buckets' directories, so the per-trigger file
    * LISTING is O(probed buckets) too, not O(catalog) — and pushes the
    * batch's distinct band keys into the scan when they fit under
    * `maxPushdownKeys`. `batchBanded` needs a `band_key` column.
    *
    * The distinct-key collect is bounded: at most `maxPushdownKeys + 1`
    * values come back (the +1 detects overflow → bucket-only pruning).
    * Buckets are derived from the keys driver-side — ≤ numBuckets
    * distinct values by construction. */
  def readForBatch(
      spark: SparkSession, dir: String, batchBanded: DataFrame,
      maxPushdownKeys: Int = DefaultMaxPushdownKeys): DataFrame =
    readMeta(spark, dir) match {
      case None =>
        store.rejectOrphanData(spark, dir)
        store.empty(spark)
      case Some(m) =>
        // ONE bounded collect for the common case (r8 verdict residual
        // note: the old buckets-then-keys pair ran two Spark jobs over
        // the same probe frame per trigger): distinct band keys capped
        // at maxPushdownKeys + 1, buckets DERIVED from them driver-side
        // (bucket = band_key mod numBuckets — pure arithmetic). Only on
        // overflow — more distinct keys than the pushdown cap — does a
        // second job collect the distinct buckets (still ≤ numBuckets
        // values), because the capped key sample no longer covers them.
        // The collect runs BEFORE any relation is built: an empty batch
        // then pays no file listing at all.
        val keys = batchBanded.select(col("band_key"))
          .distinct().limit(maxPushdownKeys + 1)
          .collect().map(_.getLong(0))
        if (keys.isEmpty) store.empty(spark)
        else if (keys.length > maxPushdownKeys) {
          val buckets = batchBanded
            .select(bucketOf(col("band_key"), m.numBuckets).as("bucket"))
            .distinct().collect().map(_.getInt(0))
          store.readBucketDirs(spark, dir, buckets.toSeq, m.numBuckets)
        } else {
          val buckets = keys.map(BucketedStore.bucketOfKey(_, m.numBuckets)).distinct
          store.readBucketDirs(spark, dir, buckets.toSeq, m.numBuckets)
            .filter(col("band_key").isin(keys.toSeq: _*))
        }
    }

  // -------------------------------------------------------- rebucket

  /** Re-shard the catalog into the fresh dir `toDir` under a DIFFERENT
    * bucket count — the growth path when survivors outgrow the bucket
    * choice (a 10⁹-doc catalog wants thousands of buckets, not the
    * default 64). Banding parameters are UNCHANGED — they define which
    * duplicates exist; only the physical sharding moves. Same fresh-dir,
    * meta-LAST discipline as [[ExactCatalog.rebucket]]
    * ([[BucketedStore.rebucket]]). */
  def rebucket(
      spark: SparkSession, fromDir: String, toDir: String,
      newBuckets: Int): Unit =
    store.rebucket(spark, fromDir, toDir, newBuckets, read(spark, fromDir))(
      writeMeta(spark, toDir, readMeta(spark, fromDir).get
        .copy(numBuckets = newBuckets)))

  // ----------------------------------------------------- maintenance

  /** Number of parquet data files currently in the catalog — the
    * compaction trigger signal (per-trigger appends each add up to one
    * file per touched bucket). */
  def fileCount(spark: SparkSession, dir: String): Int =
    store.fileCount(spark, dir)

  /** Parquet data files per bucket ([[BucketedStore.bucketFileCounts]]). */
  def bucketFileCounts(spark: SparkSession, dir: String): Map[Int, Int] =
    store.bucketFileCounts(spark, dir)

  /** Parquet bytes per bucket ([[BucketedStore.bucketByteSizes]]). */
  def bucketByteSizes(spark: SparkSession, dir: String): Map[Int, Long] =
    store.bucketByteSizes(spark, dir)

  /** Occupancy signals through the shared policy; `autoCompact = true`
    * runs the recommended per-bucket compactions ([[rebucket]] is only
    * ever recommended — fresh dir + caller-owned cutover). */
  def maintain(
      spark: SparkSession, dir: String,
      policy: graft.ops.GrowthPolicy.Policy = graft.ops.GrowthPolicy.Policy(),
      autoCompact: Boolean = false): Seq[graft.ops.GrowthPolicy.Action] =
    store.maintain(spark, dir, policy, autoCompact)

  /** [[maintain]] over a [[graft.ops.VersionedStore]] root
    * ([[BucketedStore.maintainVersioned]]): auto-compact in place, a
    * tripped Rebucket executed as [[rebucket]] into the next version. */
  def maintainVersioned(
      spark: SparkSession, root: String,
      policy: graft.ops.GrowthPolicy.Policy = graft.ops.GrowthPolicy.Policy(),
      autoCompact: Boolean = true
  ): (String, Seq[graft.ops.GrowthPolicy.Action]) =
    store.maintainVersioned(spark, root, policy, autoCompact)(
      rebucket(spark, _, _, _))

  /** Compact the per-trigger appends: rewrite each selected bucket as
    * one band_key-sorted file, optionally dropping rows whose `added`
    * tag is below `retainAddedFrom`; `buckets = None` = full catalog
    * ([[BucketedStore.compact]]). */
  def compact(
      spark: SparkSession, dir: String,
      retainAddedFrom: Option[Long] = None,
      buckets: Option[Seq[Int]] = None): Unit =
    store.compact(spark, dir, retainAddedFrom, buckets)
}
