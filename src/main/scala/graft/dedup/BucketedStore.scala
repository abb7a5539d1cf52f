package graft.dedup

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.GrowthPolicy

/** The storage layer every bucket-partitioned dedup catalog shares
  * ([[ExactCatalog]] and, through it, the substr/image/video catalogs;
  * [[BandedCatalog]]): parquet under `dir`, partitioned by
  * `bucket = key mod numBuckets`, files sorted by `sortKey` within each
  * bucket, a catalog-owned meta file as the layout record. The catalogs
  * keep their meta format, kind checks and probe logic; file discovery,
  * the bucketed write, compaction, rebucket and maintenance live here
  * once.
  *
  * Crash/duplicate contract (shared with the CDC sinks; single writer
  * per catalog dir):
  *
  *  - **append**: callers deliver survivors BEFORE appending them, and
  *    the catalog writes its meta BEFORE the first data write. A crash
  *    before the append replays the batch; a crash after it replays a
  *    batch whose rows are already present, which the probe suppresses
  *    (replay converges). An append of an empty frame writes no file.
  *  - **compact**: merged files are staged under `_compacting`, moved
  *    in, and only then are the inputs deleted. A crash anywhere leaves
  *    (at worst) duplicate rows, which every reader tolerates and the
  *    next compaction collapses (latest `added` kept); no window exists
  *    where rows are missing. A failed rename aborts before any delete.
  *  - **rebucket**: into a fresh dir, meta LAST as the commit marker. A
  *    crashed run leaves rows without meta, which every reader refuses
  *    loudly ([[rejectOrphanData]]) instead of reading a partial set.
  *
  * Files are discovered by listing the catalog dir itself
  * ([[graft.ops.Listing.driverSide]] keeps that listing on the driver);
  * `_`-prefixed entries (meta, staging dirs) are never data.
  *
  * @param what         catalog name for error messages ("exact catalog")
  * @param schema       row schema as read back, `bucket` included
  * @param sortKey      the bucketed column; files are sorted by it
  * @param collapse     groups duplicate rows (the `bucket` column among
  *                     the keys) keeping the latest `added`
  * @param numBucketsOf the meta reader: the committed bucket count, or
  *                     None when the dir holds no committed catalog
  */
private[dedup] final class BucketedStore(
    what: String,
    val schema: StructType,
    sortKey: String,
    collapse: DataFrame => DataFrame,
    numBucketsOf: (SparkSession, String) => Option[Int]) {

  import BucketedStore._

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Data files without a meta file mean rows of UNKNOWN layout — a
    * crashed [[rebucket]] target, or a catalog from before meta files.
    * Reading them as empty would silently drop all dedup state, and
    * appending would mix layouts; fail loudly instead. */
  def rejectOrphanData(spark: SparkSession, dir: String): Unit =
    require(dataFiles(fs(spark, dir), dir).isEmpty,
      s"catalog at $dir has parquet data but no meta file — refusing to " +
        "treat unknown-layout rows as an empty catalog; rebuild the " +
        "catalog (or restore its meta) before reading or appending")

  // ------------------------------------------------------------ read

  /** Every row under `dir` (the caller has checked the meta). */
  def readAll(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Listing.driverSide(spark) {
      spark.read.schema(schema).parquet(dir)
    }

  /** Relation over ONLY the probed buckets' directories:
    * `spark.read.parquet(dir)` lists EVERY bucket directory before
    * partition pruning applies — O(numBuckets) per trigger (on an object
    * store, numBuckets LIST calls). One root listStatus finds which
    * probed buckets exist, and the relation covers exactly those
    * directories (`basePath` keeps the `bucket` column). Rows are
    * IDENTICAL to the pruned full-catalog read. */
  def readBucketDirs(
      spark: SparkSession, dir: String, buckets: Seq[Int],
      numBuckets: Int): DataFrame = {
    val present = fs(spark, dir).listStatus(new Path(dir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(_.getPath.getName.stripPrefix("bucket=").toInt).toSet
    val sel = buckets.distinct.filter(present)
    if (sel.isEmpty) empty(spark)
    else if (sel.size * 2 <= numBuckets)
      // SPARSE probe (≤ half the buckets): explicit directories, so the
      // listing covers O(probed) dirs, not O(catalog)
      graft.ops.Listing.driverSide(spark) {
        spark.read.schema(schema).option("basePath", dir)
          .parquet(sel.map(b => new Path(dir, s"bucket=$b").toString): _*)
      }
    else
      // DENSE probe: a single-root relation + partition filter lists once,
      // instead of |probed| top-level paths each globbed and listed as
      // their own input (measured 1.6 → 5.4 s on the 64-bucket exact
      // catalog's full-width probes before this guard)
      readAll(spark, dir).filter(col("bucket").isin(sel: _*))
  }

  // ----------------------------------------------------------- write

  /** The bucketed write: one shuffle on `bucket`, sorted by
    * (bucket, sortKey). Bucket FIRST: the partitioned-file writer
    * requires ordering by the partition column and would insert its own
    * Sort(bucket) over a bare sortKey sort — an extra (unstable) sort
    * that voids the file order row-group skipping relies on. */
  def write(rows: DataFrame, dir: String, mode: String = "append"): Unit =
    rows.select(schema.fieldNames.toSeq.map(col): _*)
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", sortKey)
      .write.mode(mode).partitionBy("bucket").parquet(dir)

  // ----------------------------------------------------- file signals

  def fileCount(spark: SparkSession, dir: String): Int =
    dataFiles(fs(spark, dir), dir).size

  /** Parquet data files per bucket — the per-bucket compaction trigger.
    * A catalog's steady-state floor is one file per bucket, so any
    * global file-count threshold below `numBuckets` would force a full
    * rewrite every time; compaction decisions at scale are per bucket. */
  def bucketFileCounts(spark: SparkSession, dir: String): Map[Int, Int] =
    stats(spark, dir).map { case (b, s) => (b, s._1) }

  /** Parquet bytes per bucket — the growth signal behind [[GrowthPolicy]]:
    * when the mean configured-bucket size outgrows the policy target,
    * the catalog wants [[rebucket]]. */
  def bucketByteSizes(spark: SparkSession, dir: String): Map[Int, Long] =
    stats(spark, dir).map { case (b, s) => (b, s._2) }

  private def stats(spark: SparkSession, dir: String) =
    GrowthPolicy.partitionStats(fs(spark, dir), new Path(dir), "bucket=")

  // ------------------------------------------------------ compaction

  /** Rewrite each selected bucket as one sortKey-sorted file, collapsing
    * duplicate rows to their LATEST `added` tag, optionally dropping
    * rows below `retainAddedFrom` (retention — the caller decides what
    * the tag means: batch id, crawl id, epoch day).
    *
    * `buckets = None` compacts the WHOLE catalog (the retention-sweep
    * shape); `Some(…)` rewrites only those buckets (the steady-state
    * hygiene shape: rows in unselected buckets are untouched, and their
    * retention applies whenever THEY next compact). */
  def compact(
      spark: SparkSession, dir: String,
      retainAddedFrom: Option[Long] = None,
      buckets: Option[Seq[Int]] = None): Unit = {
    val f = fs(spark, dir)
    if (numBucketsOf(spark, dir).isEmpty) return
    val inScope: Path => Boolean = buckets match {
      case None => _ => true
      case Some(bs) =>
        val names = bs.map(b => s"bucket=$b").toSet
        p => names.contains(p.getParent.getName)
    }
    val oldFiles = dataFiles(f, dir).filter(inScope)
    if (oldFiles.isEmpty) return
    val scoped = buckets.fold(readAll(spark, dir))(bs =>
      readAll(spark, dir).filter(col("bucket").isin(bs: _*)))
    val kept = retainAddedFrom.fold(scoped)(cutoff =>
      scoped.filter(col("added") >= cutoff))
    // stage the merged buckets next to the live ones, then move them in
    val tmp = new Path(dir, "_compacting")
    f.delete(tmp, true)
    write(collapse(kept), tmp.toString, mode = "overwrite")
    for (bucketDir <- f.listStatus(tmp).toSeq
         if bucketDir.isDirectory && bucketDir.getPath.getName.startsWith("bucket=")) {
      val target = new Path(dir, bucketDir.getPath.getName)
      f.mkdirs(target)
      for (part <- f.listStatus(bucketDir.getPath).toSeq
           if part.isFile && part.getPath.getName.endsWith(".parquet")) {
        val dest = new Path(target, s"compacted-${part.getPath.getName}")
        // Hadoop rename reports failure by RETURNING FALSE. Deleting the
        // inputs after a failed move would drop the only copy of those
        // rows — abort instead: the moved files are harmless duplicates
        if (!f.rename(part.getPath, dest)) throw new java.io.IOException(
          s"catalog compaction: rename ${part.getPath} -> $dest failed; " +
            "old files left in place (duplicates only, no loss)")
      }
    }
    oldFiles.foreach(p => f.delete(p, false))
    f.delete(tmp, true)
  }

  // -------------------------------------------------------- rebucket

  /** Re-shard `rows` (the source catalog, read by the caller) into the
    * fresh dir `toDir` under `newBuckets`, collapsed like [[compact]],
    * then run `commit` — the caller's meta write, LAST. The source stays
    * readable and untouched; the caller cuts over by path. A non-empty
    * target is refused, so a crashed run is rerun into a fresh dir. */
  def rebucket(
      spark: SparkSession, fromDir: String, toDir: String,
      newBuckets: Int, rows: => DataFrame)(commit: => Unit): Unit = {
    require(newBuckets > 0, s"newBuckets must be positive: $newBuckets")
    require(numBucketsOf(spark, fromDir).isDefined,
      s"no $what at $fromDir to rebucket")
    require(numBucketsOf(spark, toDir).isEmpty &&
      dataFiles(fs(spark, toDir), toDir).isEmpty,
      s"rebucket target $toDir is not empty; use a fresh dir")
    write(collapse(rows).withColumn("bucket", bucketOf(col(sortKey), newBuckets)),
      toDir)
    commit
  }

  // ----------------------------------------------------- maintenance

  /** Occupancy signals through the shared policy; `autoCompact = true`
    * runs the recommended per-bucket compactions (the one safely
    * in-place action — a rebucket needs a fresh dir and a caller-owned
    * cutover, so it is only ever recommended). */
  def maintain(
      spark: SparkSession, dir: String, policy: GrowthPolicy.Policy,
      autoCompact: Boolean): Seq[GrowthPolicy.Action] = {
    val numBuckets = numBucketsOf(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no $what at $dir"))
    val s = stats(spark, dir) // ONE walk for both signals
    val acts = GrowthPolicy.recommend(numBuckets,
      s.map { case (b, v) => (b, v._2) }, s.map { case (b, v) => (b, v._1) },
      policy)
    if (autoCompact) compactAll(acts)(bs => compact(spark, dir, buckets = Some(bs)))
    acts
  }

  /** [[BucketedStore.maintainVersioned]] for a single-dir catalog whose
    * [[rebucket]] is `rebucketTo`. */
  def maintainVersioned(
      spark: SparkSession, root: String, policy: GrowthPolicy.Policy,
      autoCompact: Boolean)(
      rebucketTo: (String, String, Int) => Unit
  ): (String, Seq[GrowthPolicy.Action]) =
    BucketedStore.maintainVersioned(spark, root, what,
      numBucketsOf(spark, _).isDefined,
      maintain(spark, _, policy, autoCompact = false), rebucketTo,
      (d, bs) => compact(spark, d, buckets = Some(bs)), autoCompact)
}

private[dedup] object BucketedStore {

  def bucketOf(key: Column, numBuckets: Int): Column =
    pmod(key, lit(numBuckets.toLong)).cast(IntegerType)

  /** [[bucketOf]] for a key already on the driver. */
  def bucketOfKey(key: Long, numBuckets: Int): Int =
    (((key % numBuckets) + numBuckets) % numBuckets).toInt

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A catalog's meta file as text; None when it does not exist. */
  def readText(spark: SparkSession, p: Path): Option[String] = {
    val f = fs(spark, p.toString)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  def writeText(spark: SparkSession, p: Path, text: String): Unit = {
    val out = fs(spark, p.toString).create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Parquet files under `dir`, skipping `_`-prefixed dirs (staging). */
  def dataFiles(f: FileSystem, dir: String): Seq[Path] = {
    def walk(p: Path): Seq[Path] = {
      val entries = f.listStatus(p).toSeq
      entries.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath) ++
        entries.filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
          .flatMap(s => walk(s.getPath))
    }
    val root = new Path(dir)
    if (f.exists(root)) walk(root) else Seq.empty
  }

  /** Runs `compact` for every recommended [[GrowthPolicy.Compact]]. */
  def compactAll(acts: Seq[GrowthPolicy.Action])(compact: Seq[Int] => Unit): Unit =
    acts.foreach {
      case GrowthPolicy.Compact(bs) => compact(bs)
      case _ => ()
    }

  /** Maintenance over a [[graft.ops.VersionedStore]] root — the fully
    * executable lifecycle shared by single-dir catalogs and multi-tier
    * roots (image pair, video trio): a tripped Rebucket is EXECUTED as
    * `rebucket` into the next version (readers keep resolving a
    * committed version at every instant; a crash mid-rebucket leaves the
    * new version uncommitted and the old one serving), otherwise the
    * recommended compactions run in place. Predecessors are retired
    * after the swap. Recommends WITHOUT compacting first: a grown store
    * typically trips Compact and Rebucket together, and the rebucket
    * rewrite supersedes a compaction of the version it retires. Returns
    * the serving dir plus the actions that tripped. */
  def maintainVersioned(
      spark: SparkSession, root: String, what: String,
      committed: String => Boolean,
      recommend: String => Seq[GrowthPolicy.Action],
      rebucket: (String, String, Int) => Unit,
      compact: (String, Seq[Int]) => Unit,
      autoCompact: Boolean): (String, Seq[GrowthPolicy.Action]) = {
    val cur = graft.ops.VersionedStore.current(spark, root, committed)
      .getOrElse(throw new IllegalArgumentException(
        s"no committed $what under versioned root $root"))
    val acts = recommend(cur)
    val moved = acts.collectFirst {
      case GrowthPolicy.Rebucket(n, _) =>
        graft.ops.VersionedStore.cutover(spark, root, committed)(
          rebucket(cur, _, n))
    }
    if (moved.isEmpty && autoCompact) compactAll(acts)(compact(cur, _))
    moved.foreach(_ => graft.ops.VersionedStore.retire(spark, root, committed))
    (moved.getOrElse(cur), acts)
  }
}
