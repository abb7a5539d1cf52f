package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persistent IMAGE dedup catalogs — the 100 TB state a multimodal
  * pipeline carries between crawls, both delegating every layout concern
  * to [[ExactCatalog]] (bucket-partitioned parquet, fp-sorted files,
  * meta-recorded layout + `kind` universe tag, `added` retention,
  * per-bucket compaction, rebucket growth, [[graft.ops.VersionedStore]]
  * lifecycle — the delegation pattern [[SubstrCatalog]] proved):
  *
  *  - **exact tier** (`kind = image_exact`): one `(fp, h2)` row per
  *    distinct payload, `fp = xxhash64(bytes)`, `h2` an independent-seed
  *    xxhash64 ([[ImageDedup.binaryH2]]) — 16 bytes per image, a false
  *    drop needs a simultaneous two-seed collision.
  *  - **perceptual tier** (`kind = image_phash_q16`): FOUR rows per
  *    image — one per 16-bit pHash quarter — with
  *    `fp = (quarter idx << 16) | quarter value` and `h2 = the full
  *    64-bit pHash`. The quarter key IS the pruning fingerprint: a
  *    batch's probe reads only the buckets (and, under the pushdown cap,
  *    the row groups) its quarter keys hash into, then confirms
  *    candidates with one `bit_count(xor) <= maxHamming` filter over the
  *    carried full hashes. Identical-quarter pigeonhole makes the probe
  *    EXACT for Hamming ≤ 3 ([[ImageDedup.MaxBlockedHamming]]); no ids
  *    are stored — membership is the whole state, as in [[SubstrCatalog]]
  *    (the prior corpus always owns what it contains).
  *
  * Crash/replay contract (deliver-before-append, as everywhere in the
  * family): survivors are delivered via the callback before any append,
  * so a crash anywhere replays into at-least-once delivery; a replay
  * whose append landed is suppressive (the batch's own entries re-drop
  * it) — downstream keeps the FIRST delivery per id.
  */
object ImageCatalog {

  val KindExact = "image_exact"

  /** The quarter width is a layout property exactly like the bucket
    * count (a catalog blocked on 16-bit quarters probed with any other
    * blocking is a different fingerprint universe) — carried in the
    * kind, refused on mismatch through the shared kind machinery. */
  val KindPhash = "image_phash_q16"

  // ----------------------------------------------------------- entries

  /** Exact-tier entries of an image frame (null payloads excluded). */
  def exactEntriesOf(df: DataFrame, binCol: String): DataFrame =
    df.filter(col(binCol).isNotNull).select(
      xxhash64(col(binCol)).as("fp"),
      ImageDedup.binaryH2(col(binCol)).as("h2"))

  /** Perceptual-tier entries from an already-hashed `(phash)` frame:
    * four `(fp = quarter key, h2 = phash)` rows per decodable image. */
  def phashEntriesOf(hashed: DataFrame): DataFrame =
    hashed.filter(col("phash").isNotNull)
      .select(explode(ImageDedup.quarterKeys(col("phash"))).as("fp"),
        col("phash").as("h2"))
      .distinct()

  // ------------------------------------------------------------ append

  def appendExact(entries: DataFrame, dir: String,
      numBuckets: Int = ExactCatalog.DefaultBuckets, added: Long = 0L): Unit =
    ExactCatalog.append(entries, dir, numBuckets, added, kind = KindExact)

  def appendPhash(entries: DataFrame, dir: String,
      numBuckets: Int = ExactCatalog.DefaultBuckets, added: Long = 0L): Unit =
    ExactCatalog.append(entries, dir, numBuckets, added, kind = KindPhash)

  // ------------------------------------------------------- incremental

  /** One crawl/micro-batch against the EXACT image catalog: in-batch
    * byte-exact collapse, anti-join against the pruned catalog read,
    * survivors delivered then appended. [[ExactCatalog.applyBatch]] with
    * binary keys. */
  def applyBatchExact(
      batch: DataFrame, dir: String, idCol: String, binCol: String,
      numBuckets: Int = ExactCatalog.DefaultBuckets, added: Long = 0L,
      maxPushdownKeys: Int = ExactCatalog.DefaultMaxPushdownKeys,
      deliver: DataFrame => Unit = _ => ()): DataFrame = {
    val spark = batch.sparkSession
    val fresh = graft.ops.Checkpoints.pin(
      ImageDedup.dedupExactBinary(batch, idCol, binCol)
        .withColumn("__fp", xxhash64(col(binCol)))
        .withColumn("__h2", ImageDedup.binaryH2(col(binCol))))
    val cat = ExactCatalog.readForBatch(
      spark, dir, fresh.filter(col(binCol).isNotNull).select(col("__fp").as("fp")),
      maxPushdownKeys, kind = KindExact)
    val survivors = graft.ops.Checkpoints.pin(
      fresh.join(
        cat.select(col("fp").as("__cfp"), col("h2").as("__ch2")),
        col("__fp") === col("__cfp") && col("__h2") === col("__ch2"),
        "left_anti"))
    val out = survivors.drop("__fp", "__h2")
    deliver(out) // delivery BEFORE the append — class doc
    appendExact(
      survivors.filter(col(binCol).isNotNull)
        .select(col("__fp").as("fp"), col("__h2").as("h2")),
      dir, ExactCatalog.readMeta(spark, dir).getOrElse(numBuckets), added)
    out
  }

  /** One crawl/micro-batch against the PERCEPTUAL image catalog: decode
    * once (pinned), drop batch images within `maxHamming` of any catalog
    * hash (pruned quarter-key probe), collapse in-batch near-dup
    * clusters to their min-id representative, deliver, then append the
    * survivors' quarter entries. Undecodable payloads pass through (they
    * are a quality-filter concern, not duplicates). */
  def applyBatchPhash(
      batch: DataFrame, dir: String, idCol: String, binCol: String,
      maxHamming: Int = ImageDedup.MaxBlockedHamming,
      numBuckets: Int = ExactCatalog.DefaultBuckets, added: Long = 0L,
      maxPushdownKeys: Int = ExactCatalog.DefaultMaxPushdownKeys,
      deliver: DataFrame => Unit = _ => ()): DataFrame =
    applyBatchHash(batch, dir, idCol, binCol,
      graft.functions.GraftFunctions.imagePHash, KindPhash,
      maxHamming, numBuckets, added, maxPushdownKeys, deliver)

  /** The hash-parametric core behind [[applyBatchPhash]] (and the audio
    * tier's [[AudioDedup.applyBatchEnvelope]]): quarter blocking and the
    * catalog layout are agnostic to WHICH 64-bit perceptual hash fills
    * the rows — only the decode expression and the `kind` universe tag
    * differ per modality. */
  private[dedup] def applyBatchHash(
      batch: DataFrame, dir: String, idCol: String, binCol: String,
      hashOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      kind: String,
      maxHamming: Int, numBuckets: Int, added: Long,
      maxPushdownKeys: Int,
      deliver: DataFrame => Unit): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= ImageDedup.MaxBlockedHamming,
      s"quarter blocking guarantees recall only to Hamming " +
        s"${ImageDedup.MaxBlockedHamming}; got $maxHamming")
    val spark = batch.sparkSession
    // ONE decode pass feeds the probe, the in-batch pairs AND the append
    val hashed = graft.ops.Checkpoints.pin(
      batch.select(col(idCol).as("id"), hashOf(col(binCol)).as("phash")))
    val probe = hashed.filter(col("phash").isNotNull)
      .select(explode(ImageDedup.quarterKeys(col("phash"))).as("fp"), col("phash"))
    val cat = ExactCatalog.readForBatch(
      spark, dir, probe.select(col("fp")), maxPushdownKeys, kind = kind)
    val hits = probe
      .join(cat.select(col("fp"), col("h2").as("__cat_ph")), Seq("fp"))
      .filter(bit_count(col("phash").bitwiseXOR(col("__cat_ph"))) <= maxHamming)
      .select(col("phash")).distinct()
    // anti-join on a nullable key would also pass the null-phash rows
    // (null never matches) — split them out explicitly so they are
    // neither dropped nor double-counted
    // pinned (r17 optimization round): ids only, consumed by the
    // fresh-batch semi-join AND (via fresh) the freshHashes projection
    // — unpinned, the hits subtree (catalog scan + Hamming filter)
    // re-executed once per consumer
    val freshIds = graft.ops.Checkpoints.pin(
      hashed.filter(col("phash").isNotNull)
        .join(hits, Seq("phash"), "left_anti")
        .select(col("id").as(idCol))
        .unionByName(hashed.filter(col("phash").isNull)
          .select(col("id").as(idCol))))
    val fresh = batch.join(freshIds, Seq(idCol), "left_semi")
    // in-batch collapse over the SAME pinned hashes, restricted to the
    // catalog survivors — a projection over checkpoint blocks, no rescan
    val freshHashes = hashed.join(
      fresh.select(col(idCol).as("id")), Seq("id"), "left_semi")
    val pairs = ImageDedup.phashCandidatePairsFromHashes(freshHashes, maxHamming)
    val out = graft.ops.Checkpoints.pin(
      Dedup.dedupNearByClusters(fresh, idCol, pairs))
    deliver(out) // delivery BEFORE the append — class doc
    ExactCatalog.append(
      phashEntriesOf(hashed.join(
        out.select(col(idCol).as("id")), Seq("id"), "left_semi")),
      dir, ExactCatalog.readMeta(spark, dir).getOrElse(numBuckets), added,
      kind = kind)
    out
  }

  /** Both image tiers composed, exact inside near's delivery position —
    * i.e. exact FIRST (cheapest drop before any pixel decode), the
    * perceptual tier running inside its deliver callback so every append
    * lands after the final delivery (the [[graft.streaming
    * .StreamingCurate]] nesting shape). */
  def applyBatch(
      batch: DataFrame, exactDir: String, phashDir: String,
      idCol: String, binCol: String,
      maxHamming: Int = ImageDedup.MaxBlockedHamming,
      numBuckets: Int = ExactCatalog.DefaultBuckets, added: Long = 0L,
      maxPushdownKeys: Int = ExactCatalog.DefaultMaxPushdownKeys,
      deliver: DataFrame => Unit = _ => ()): DataFrame = {
    var out: DataFrame = batch.sparkSession.emptyDataFrame
    val _ = applyBatchExact(
      batch, exactDir, idCol, binCol, numBuckets, added, maxPushdownKeys,
      deliver = exactSurvivors => {
        out = applyBatchPhash(
          exactSurvivors, phashDir, idCol, binCol, maxHamming,
          numBuckets, added, maxPushdownKeys, deliver)
      })
    out
  }

  // ------------------------------------------------------- maintenance
  // Byte-identical layout to the exact catalog — the lifecycle delegates
  // wholesale; only the entry semantics differ (the SubstrCatalog move).

  def fileCount(spark: SparkSession, dir: String): Int =
    ExactCatalog.fileCount(spark, dir)

  def bucketFileCounts(spark: SparkSession, dir: String): Map[Int, Int] =
    ExactCatalog.bucketFileCounts(spark, dir)

  def compact(
      spark: SparkSession, dir: String,
      retainAddedFrom: Option[Long] = None,
      buckets: Option[Seq[Int]] = None): Unit =
    ExactCatalog.compact(spark, dir, retainAddedFrom, buckets)

  def rebucket(
      spark: SparkSession, fromDir: String, toDir: String,
      newBuckets: Int): Unit =
    ExactCatalog.rebucket(spark, fromDir, toDir, newBuckets)

  def maintain(
      spark: SparkSession, dir: String,
      policy: graft.ops.GrowthPolicy.Policy = graft.ops.GrowthPolicy.Policy(),
      autoCompact: Boolean = false): Seq[graft.ops.GrowthPolicy.Action] =
    ExactCatalog.maintain(spark, dir, policy, autoCompact)

  def maintainVersioned(
      spark: SparkSession, root: String,
      policy: graft.ops.GrowthPolicy.Policy = graft.ops.GrowthPolicy.Policy(),
      autoCompact: Boolean = true
  ): (String, Seq[graft.ops.GrowthPolicy.Action]) =
    ExactCatalog.maintainVersioned(spark, root, policy, autoCompact)

  // ------------------------------------------------- pair-root lifecycle
  // The streaming tier owns BOTH image catalogs, so its versioned root
  // holds version dirs that are catalog PAIRS (`v{n}/exact`,
  // `v{n}/phash`) — the [[VideoCatalog]] pair-root shape: one cutover
  // moves both tiers, the pair commits only when both metas exist.

  def pairExactDir(root: String): String = s"$root/exact"
  def pairPhashDir(root: String): String = s"$root/phash"

  /** Committed = BOTH tiers carry meta (see [[rebucketPair]] ordering). */
  def isCommittedPair(spark: SparkSession, root: String): Boolean =
    ExactCatalog.readMeta(spark, pairExactDir(root)).isDefined &&
      ExactCatalog.readMeta(spark, pairPhashDir(root)).isDefined

  /** Re-shard both tiers into `toRoot`. Phash first, exact last: the
    * exact tier's meta doubles as the pair's commit marker — a crash
    * between the two leaves an uncommitted version every resolve skips. */
  def rebucketPair(
      spark: SparkSession, fromRoot: String, toRoot: String,
      newBuckets: Int): Unit = {
    ExactCatalog.rebucket(spark, pairPhashDir(fromRoot),
      pairPhashDir(toRoot), newBuckets)
    ExactCatalog.rebucket(spark, pairExactDir(fromRoot),
      pairExactDir(toRoot), newBuckets)
  }

  /** Growth signals from the PHASH tier (four rows per image vs the
    * exact tier's one — the denser, binding layout); a recommended
    * Compact runs on both tiers. */
  def maintainPair(
      spark: SparkSession, root: String,
      policy: graft.ops.GrowthPolicy.Policy = graft.ops.GrowthPolicy.Policy(),
      autoCompact: Boolean = false): Seq[graft.ops.GrowthPolicy.Action] = {
    val acts = ExactCatalog.maintain(spark, pairPhashDir(root), policy,
      autoCompact = false)
    if (autoCompact) BucketedStore.compactAll(acts)(compactPair(spark, root, _))
    acts
  }

  private def compactPair(spark: SparkSession, root: String, bs: Seq[Int]): Unit = {
    compact(spark, pairPhashDir(root), buckets = Some(bs))
    compact(spark, pairExactDir(root), buckets = Some(bs))
  }

  /** [[maintainPair]] over a [[graft.ops.VersionedStore]] root of PAIR
    * version dirs — the same executable lifecycle as
    * [[VideoCatalog.maintainVersioned]]. */
  def maintainVersionedPair(
      spark: SparkSession, root: String,
      policy: graft.ops.GrowthPolicy.Policy = graft.ops.GrowthPolicy.Policy(),
      autoCompact: Boolean = true
  ): (String, Seq[graft.ops.GrowthPolicy.Action]) =
    BucketedStore.maintainVersioned(spark, root, "image catalog pair",
      isCommittedPair(spark, _), maintainPair(spark, _, policy),
      rebucketPair(spark, _, _, _), compactPair(spark, _, _), autoCompact)
}
