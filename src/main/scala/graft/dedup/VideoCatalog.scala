package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persistent VIDEO dedup catalog — the cross-crawl state for
  * [[VideoDedup]]'s frame-sequence fingerprints, completing the media
  * catalog family ([[ImageCatalog]] images, [[AudioDedup]] audio). A
  * video's fingerprint is its evenly-sampled frame-hash SEQUENCE, so
  * unlike the scalar-hash catalogs the confirm needs the whole array —
  * the catalog is therefore THREE tiers under one root, ALL delegating
  * every layout concern to [[ExactCatalog]] (the `(fp, h2)` row shape
  * buys meta/kind discipline, bucket pruning, key/range pushdown,
  * retention, per-bucket compaction, rebucket growth and the
  * [[graft.ops.VersionedStore]] lifecycle with zero new layout code —
  * the [[SubstrCatalog]]/[[ImageCatalog]] delegation move):
  *
  *  - **blocking tier** (`<root>/block`, kind `video_block_q16_f{n}`):
  *    four rows per video — `fp = (quarter idx << 16) | quarter value`
  *    of the FIRST sampled frame's pHash ([[ImageDedup.quarterKeys]]),
  *    `h2 = vid`, the video's signature id (`xxhash64` of its frame-hash
  *    array). Near-dup videos have near-dup first frames, so the image
  *    tier's pigeonhole guarantee carries over: Hamming ≤ 3 on the first
  *    frame ⇒ a shared quarter ⇒ the candidate is generated.
  *  - **signature tier** (`<root>/sig`, kind `video_sig_f{n}_v2`): one
  *    row per (video, sampled frame k) — `fp = (vid << 6) | k` (k < n ≤
  *    64, the kernel's own bound; a bitwise encoding because ANSI mode
  *    rejects the wrapping multiply a `vid*n + k` packing would need),
  *    `h2 = the frame-k pHash`. The k-indexed fp encoding is what lets
  *    an array-valued signature live in the scalar catalog layout: the
  *    prober GENERATES the fps itself from candidate vids, so the read
  *    stays bucket-pruned and key-pushed like every delegated probe, and
  *    the array is reassembled by sorting the returned `(k, hash)`
  *    pairs. Distinct `(vid, k)` pairs map to distinct fps, so rows
  *    never collide across frames. The `vid << 6` shift discards vid's
  *    top 6 bits, so the sig tier's effective id space is 58 BITS, not
  *    64: two distinct videos collide on their packed prefix with
  *    ~2⁻⁵⁸ probability per pair (honest statement — a re-hash could
  *    not widen it, since 64 fp bits minus 6 k bits is 58 either way),
  *    one tolerance class looser than the [[SubstrCatalog]] 2⁻⁶⁴ rows.
  *    A collision interleaves two videos' rows at the same positions —
  *    the completeness guard below drops such a candidate (duplicate k
  *    values can never read as `0..m-1` with one hash each) rather than
  *    confirm against a chimera array, so the cost is a ~2⁻⁵⁸ missed
  *    dedup, never a false drop.
  *  - **count tier** (`<root>/cnt`, kind `video_cnt_f{n}_v2`): one row
  *    per video — `fp = vid`, `h2 = m`, the video's DECODABLE sampled
  *    frame count (`size(fhs)`, ≤ n for short videos). This is what
  *    makes the completeness guard exact: reassembled pairs must number
  *    exactly the recorded m, so a PREFIX left by a partial sig append
  *    can never be confirmed against a legitimately short batch video
  *    (the r13 ADVICE hole — the contiguity check alone accepts any
  *    contiguous prefix, and [[VideoDedup.alignedMaxHamming]]'s length
  *    check fails open when the batch video really has m frames).
  *
  * The sampled frame count `n` is a layout property exactly like the
  * bucket count (arrays sampled at a different n are a different
  * fingerprint universe — [[VideoDedup.alignedMaxHamming]] is null on
  * length mismatch by design), so it is carried in both kinds and a
  * wrong-n open refuses through the shared kind machinery (the
  * [[SubstrCatalog.KindPrefix]] precedent).
  *
  * One perceptual tier subsumes byte-exact video dedup (a byte copy has
  * the identical frame-hash sequence — aligned Hamming 0), the
  * [[AudioDedup]] precedent.
  *
  * Crash/replay contract (deliver-before-append, as everywhere in the
  * family): survivors are delivered before any append; cnt and sig rows
  * land before blocking rows, so a crash before the block append leaves
  * candidates that are never generated (blocking row absent) — the
  * replayed batch re-appends identical rows, which are harmless
  * duplicates that collapse at the next compaction. A partial sig
  * append (some k rows missing, including a contiguous PREFIX)
  * reconstructs a pair set whose size differs from the count tier's
  * recorded m, so the guard drops it and the replay re-delivers and
  * re-appends — suppression only ever happens against a COMPLETE
  * catalog signature, now including the prefix-vs-short-batch-video
  * case the contiguity check alone could not see.
  */
object VideoCatalog {

  val BlockKindPrefix = "video_block_q16_f"
  val SigKindPrefix = "video_sig_f"
  val CntKindPrefix = "video_cnt_f"
  /** v2 = the three-tier layout (count tier added); v1 two-tier roots
    * refuse loudly through the kind machinery. */
  val KindSuffix = "_v2"

  /** The SIG probe's own IN-pushdown cap, below the family default: its
    * key set is candidates × n — it grows with CATALOG density times
    * batch size, not batch size alone (a 12-video batch against a
    * 1M-video catalog already probes ~3k fps) — and a pushed IN
    * becomes a LEFT-DEEP OR tree inside parquet's filter evaluator,
    * which overflows the task stack past a few thousand arms (found by
    * running it; the balanced-or-tree lesson of
    * [[ExactCatalog.readForBatch]], one layer down). Past this cap the
    * probe falls to the per-bucket RANGE path, which is the correct
    * steady-state at real batch sizes anyway. */
  val SigProbeMaxPushdownKeys = 1024

  /** Driver budget of the fused sig+cnt probe (r18): the collected
    * candidate vids expand to vids × n sig fingerprints on the driver,
    * so the fused path runs only while that expansion fits 2 MB of
    * longs — far above a sane micro-batch's candidate fan-out, far
    * below driver-memory risk. Past it the probe falls back to the
    * distributed r17 shape (per-tier readForBatch). */
  val MaxDriverProbeFps = 1 << 18

  def blockKind(n: Int): String = s"$BlockKindPrefix$n$KindSuffix"
  def sigKind(n: Int): String = s"$SigKindPrefix$n$KindSuffix"
  def cntKind(n: Int): String = s"$CntKindPrefix$n$KindSuffix"
  def blockDir(root: String): String = s"$root/block"
  def sigDir(root: String): String = s"$root/sig"
  def cntDir(root: String): String = s"$root/cnt"

  /** The catalog's recorded sampled-frame count (None: no catalog, or
    * not a video catalog). Regex-parsed like [[SubstrCatalog.metaW]]: a
    * malformed or overflowing suffix falls through to the kind
    * machinery's loud universe-mismatch refusal. */
  private val BlockKindRe =
    (java.util.regex.Pattern.quote(BlockKindPrefix) + """(\d+)""" +
      java.util.regex.Pattern.quote(KindSuffix)).r
  def metaFrames(spark: SparkSession, root: String): Option[Int] =
    ExactCatalog.readMetaKind(spark, blockDir(root)).collect {
      case BlockKindRe(n) => n
    }.flatMap(_.toIntOption)

  /** `(id, fhs)` with the frame-hash array and its signature id — ONE
    * decode pass feeds probe, in-batch pairs and append. */
  def withSignature(df: DataFrame, idCol: String, binCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.videoFramePhashes(col(binCol), n)
        .as("fhs"))
      .withColumn("vid", xxhash64(col("fhs")))

  // ----------------------------------------------------------- entries

  /** The sig tier's k-indexed fp encoding (class doc). */
  def frameFp(vid: org.apache.spark.sql.Column,
      k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftleft(vid, 6).bitwiseOR(k.cast("long"))

  /** Signature-tier entries of a hashed `(id, fhs, vid)` frame: one
    * `(fp = (vid << 6) | k, h2 = frame-k hash)` row per sampled frame. */
  def sigEntriesOf(hashed: DataFrame, n: Int): DataFrame =
    hashed.filter(col("fhs").isNotNull)
      .select(col("vid"), posexplode(col("fhs")).as(Seq("k", "fh")))
      .select(frameFp(col("vid"), col("k")).as("fp"), col("fh").as("h2"))
      .distinct()

  /** Blocking-tier entries: one `(fp = first-frame quarter key,
    * h2 = vid)` row per quarter. */
  def blockEntriesOf(hashed: DataFrame): DataFrame =
    hashed.filter(col("fhs").isNotNull)
      .select(explode(ImageDedup.quarterKeys(element_at(col("fhs"), 1)))
        .as("fp"), col("vid").as("h2"))
      .distinct()

  /** Count-tier entries: one `(fp = vid, h2 = decodable frame count)`
    * row per video. Two rows with the same vid always carry the same
    * count (vid IS the hash of the frame array), so replays collapse at
    * compaction like every other tier. */
  def cntEntriesOf(hashed: DataFrame): DataFrame =
    hashed.filter(col("fhs").isNotNull)
      .select(col("vid").as("fp"), size(col("fhs")).cast("long").as("h2"))
      .distinct()

  /** Append a hashed `(id, fhs, vid)` frame's entries to all three
    * tiers — cnt first, sig second, block LAST (see class doc crash
    * ordering: the block row is what makes a video a candidate, so a
    * crash mid-append leaves candidates that are never generated, and
    * the completeness guard covers every other partial state). Layout
    * parameters are CREATE-TIME defaults; an existing catalog's meta is
    * authoritative. */
  def append(hashed: DataFrame, root: String, n: Int,
      numBuckets: Int = ExactCatalog.DefaultBuckets, added: Long = 0L): Unit = {
    val spark = hashed.sparkSession
    val effN = metaFrames(spark, root).getOrElse(n)
    val buckets = ExactCatalog.readMeta(spark, blockDir(root))
      .getOrElse(numBuckets)
    // cnt ∥ sig, then block LAST (r18, guide §2.6): the crash contract
    // only orders the BLOCK append after the other two — the block row
    // is what makes a video a candidate, and ANY partial {cnt, sig}
    // state without it is invisible to probes (the completeness guard
    // covers the rest) — so the cnt and sig writes overlap; their job
    // tails back-fill each other's idle executors.
    graft.ops.CoreOps.inParallel(
      ExactCatalog.append(cntEntriesOf(hashed), cntDir(root),
        buckets, added, kind = cntKind(effN)),
      ExactCatalog.append(sigEntriesOf(hashed, effN), sigDir(root),
        buckets, added, kind = sigKind(effN)))
    ExactCatalog.append(blockEntriesOf(hashed), blockDir(root),
      buckets, added, kind = blockKind(effN))
  }

  // ------------------------------------------------------- incremental

  /** One crawl/micro-batch against the persistent catalog: decode once
    * (pinned), drop batch videos whose aligned frame-hash sequence sits
    * within `maxHamming` of any catalog video's (pruned two-tier probe),
    * collapse in-batch near-dup clusters to their min-id representative
    * ([[VideoDedup.videoCandidatePairsFromHashes]] over the same pinned
    * hashes), deliver, then append the survivors' entries. Non-video /
    * undecodable payloads pass through (a quality-filter concern, not
    * duplicates).
    *
    * `maxCandidatesPerKey` is the catalog-side hot-bucket valve (the
    * [[VideoDedup.videoCandidatePairs]] lens: identical first frames
    * across DISTINCT videos are common — black lead-ins, logos — and a
    * hot quarter key would fan every matching batch video out to its
    * whole posting list): quarter keys carrying more candidate vids are
    * dropped from candidate generation, a documented recall valve, never
    * a correctness hazard (fewer candidates ⇒ fewer drops). */
  def applyBatch(
      batch: DataFrame, root: String, idCol: String, binCol: String,
      n: Int = VideoDedup.DefaultSampledFrames,
      maxHamming: Int = ImageDedup.MaxBlockedHamming,
      numBuckets: Int = ExactCatalog.DefaultBuckets, added: Long = 0L,
      maxPushdownKeys: Int = ExactCatalog.DefaultMaxPushdownKeys,
      maxCandidatesPerKey: Int = 4096,
      deliver: DataFrame => Unit = _ => ()): DataFrame =
    applyBatchWithin(MaxDriverProbeFps)(batch, root, idCol, binCol, n,
      maxHamming, numBuckets, added, maxPushdownKeys, maxCandidatesPerKey,
      deliver)

  /** [[applyBatch]] under an explicit fused-probe budget (in sig
    * fingerprints) — the seam that lets a spec drive the fallback. */
  private[dedup] def applyBatchWithin(driverProbeFps: Int)(
      batch: DataFrame, root: String, idCol: String, binCol: String,
      n: Int, maxHamming: Int, numBuckets: Int, added: Long,
      maxPushdownKeys: Int, maxCandidatesPerKey: Int,
      deliver: DataFrame => Unit): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= ImageDedup.MaxBlockedHamming,
      s"quarter blocking guarantees recall only to Hamming " +
        s"${ImageDedup.MaxBlockedHamming}; got $maxHamming")
    val spark = batch.sparkSession
    val effN = metaFrames(spark, root).getOrElse(n)
    val hashed = graft.ops.Checkpoints.pin(
      withSignature(batch, idCol, binCol, effN))
    // tier 1: first-frame quarter keys -> candidate catalog vids. The
    // probe carries (id, fp) ONLY — the frame-hash arrays are re-joined
    // from the pinned `hashed` exactly where the Hamming confirm needs
    // them (guide §2.3/§8: decide with small rows; the r17 shape carried
    // `fhs` through the join and the (id, cvid) dedup exchange, shuffling
    // every candidate's array payload once per hop).
    val probeKeys = hashed.filter(col("fhs").isNotNull)
      .select(col("id"),
        explode(ImageDedup.quarterKeys(element_at(col("fhs"), 1))).as("fp"))
    val blockCat = ExactCatalog.readForBatch(
      spark, blockDir(root), probeKeys.select(col("fp")), maxPushdownKeys,
      kind = blockKind(effN))
    // counts-first valve: a hot key is detected from a map-side-combined
    // COUNT and anti-joined away — no posting list is ever materialized
    // per group (a collect_set would build the full hot set in memory
    // before the filter could drop it). Replay-duplicate rows inflate
    // the count; harmless for a valve.
    val hotKeys = blockCat.groupBy(col("fp"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxCandidatesPerKey).select(col("fp"))
    // pinned (r17 optimization round): the candidate set feeds the fused
    // sig+cnt probe key collect, the catArrays join AND (via dropped)
    // both survivor branches — unpinned, this multi-join subtree
    // re-executed ~5x per trigger. distinct replaces the r17
    // dropDuplicates("id","cvid"): same pairs, 16 B/row instead of
    // array-carrying rows through the exchange and the checkpoint.
    val cands = graft.ops.Checkpoints.pin(probeKeys
      .join(blockCat.join(hotKeys, Seq("fp"), "left_anti")
        .select(col("fp"), col("h2").as("cvid")), Seq("fp"))
      .select(col("id"), col("cvid")).distinct())
    // tier 2+3, FUSED key side (r18, guide §1.2): the sig probe's fps
    // and the cnt probe's fps both derive from the SAME candidate vid
    // set, so ONE bounded collect serves both reads — the r17 shape ran
    // a distinct+limit+collect job round per tier (and, past the sig IN
    // cap, a second per-bucket ranges job; with driver-side keys the
    // density split is pure arithmetic — ExactCatalog.readForKeys). The
    // (cvid, k, fp) reassembly mapping becomes a LocalRelation, so the
    // sigCat join broadcasts it without touching the cluster. Past
    // the driver budget (vids × effN fps) the distributed r17 shape
    // takes over — the driver never holds an unbounded candidate set.
    val maxVids = driverProbeFps / effN
    val cvidsCapped = cands.select(col("cvid")).distinct()
      .limit(maxVids + 1).collect().map(_.getLong(0))
    val (sigCat, cntCat, candFps) =
      if (cvidsCapped.length <= maxVids) {
        val sigFps = cvidsCapped.flatMap(v =>
          Array.tabulate(effN)(k => (v << 6) | k.toLong))
        val sc = ExactCatalog.readForKeys(
          spark, sigDir(root), sigFps,
          math.min(maxPushdownKeys, SigProbeMaxPushdownKeys),
          kind = sigKind(effN))
        val cc = ExactCatalog.readForKeys(
          spark, cntDir(root), cvidsCapped, maxPushdownKeys,
          kind = cntKind(effN))
        import spark.implicits._
        val cf = cvidsCapped.toSeq.toDF("cvid")
          .select(col("cvid"), explode(sequence(lit(0), lit(effN - 1))).as("k"))
          .withColumn("fp", frameFp(col("cvid"), col("k")))
        (sc, cc, cf)
      } else {
        val cf = cands.select(col("cvid")).distinct()
          .select(col("cvid"), explode(sequence(lit(0), lit(effN - 1))).as("k"))
          .withColumn("fp", frameFp(col("cvid"), col("k")))
        val sc = ExactCatalog.readForBatch(
          spark, sigDir(root), cf.select(col("fp")),
          math.min(maxPushdownKeys, SigProbeMaxPushdownKeys),
          kind = sigKind(effN))
        val cc = ExactCatalog.readForBatch(
          spark, cntDir(root), cands.select(col("cvid").as("fp")).distinct(),
          maxPushdownKeys, kind = cntKind(effN))
        (sc, cc, cf)
      }
    val catArrays = candFps
      .join(sigCat.select(col("fp"), col("h2").as("fh")), Seq("fp"))
      .groupBy(col("cvid"))
      // collect_set folds the r17 pre-aggregation distinct into the
      // aggregate itself (one exchange instead of two): array_sort over
      // the DISTINCT (k, fh) structs is exactly the sorted distinct
      // list the guard compares against the recorded count
      .agg(array_sort(collect_set(struct(col("k"), col("fh")))).as("pairs"))
      // completeness guard: the reassembled pairs must be exactly
      // k = 0..m-1 with one hash each, AND number exactly the count
      // tier's recorded m (inner join: no cnt row — e.g. a v1-era or
      // mid-crash state — means no confirm). A partial sig append, a
      // ~2^-58 packed-id collision interleaving two videos, or a PREFIX
      // of a longer video probed by a legitimately short batch video
      // all fail it and the candidate is dropped, never confirmed.
      .join(cntCat.select(col("fp").as("cvid"), col("h2").as("m"))
        .distinct(), Seq("cvid"))
      .filter(size(col("pairs")).cast("long") === col("m") &&
        forall(
          zip_with(col("pairs"), sequence(lit(0), size(col("pairs")) - 1),
            (p, i) => p.getField("k") === i),
          b => b))
      .select(col("cvid"),
        transform(col("pairs"), p => p.getField("fh")).as("cfhs"))
    // the Hamming confirm re-attaches the frame arrays HERE, from the
    // pinned hashed frame (a broadcast-sized id join at micro-batch
    // scale) — the only place the probe side ever needs them
    val dropped = cands.join(catArrays, Seq("cvid"))
      .join(hashed.select(col("id"), col("fhs")), Seq("id"))
      .filter(VideoDedup.alignedMaxHamming(col("fhs"), col("cfhs"))
        .isNotNull &&
        VideoDedup.alignedMaxHamming(col("fhs"), col("cfhs")) <= maxHamming)
      .select(col("id")).distinct()
    // pinned: ids only, consumed by the fresh-batch semi-join AND the
    // freshHashes projection — saves a re-execution of the dropped
    // subtree (sig-catalog scan + reassembly aggregate) per consumer
    val freshIds = graft.ops.Checkpoints.pin(hashed.select(col("id"))
      .join(dropped, Seq("id"), "left_anti"))
    val fresh = batch.join(freshIds.select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
    // in-batch collapse over the SAME pinned hashes, restricted to the
    // catalog survivors — a projection over checkpoint blocks, no rescan
    val freshHashes = hashed.join(freshIds, Seq("id"), "left_semi")
    val pairs = VideoDedup.videoCandidatePairsFromHashes(
      freshHashes.select(col("id"), col("fhs").as("frame_phashes")),
      maxHamming)
    val out = graft.ops.Checkpoints.pin(
      Dedup.dedupNearByClusters(fresh, idCol, pairs))
    deliver(out) // delivery BEFORE the append — class doc
    append(hashed.join(out.select(col(idCol).as("id")), Seq("id"),
      "left_semi"), root, effN,
      ExactCatalog.readMeta(spark, blockDir(root)).getOrElse(numBuckets),
      added)
    out
  }

  // ------------------------------------------------------- maintenance
  // The lifecycle delegates per tier; pair-level ops keep both dirs in
  // the SAME layout (they are created together and probed together).

  def bucketFileCounts(spark: SparkSession, root: String): Map[Int, Int] = {
    val b = ExactCatalog.bucketFileCounts(spark, blockDir(root))
    val s = ExactCatalog.bucketFileCounts(spark, sigDir(root))
    val c = ExactCatalog.bucketFileCounts(spark, cntDir(root))
    (b.keySet ++ s.keySet ++ c.keySet).map(k =>
      k -> math.max(math.max(b.getOrElse(k, 0), s.getOrElse(k, 0)),
        c.getOrElse(k, 0))).toMap
  }

  def compact(
      spark: SparkSession, root: String,
      retainAddedFrom: Option[Long] = None,
      buckets: Option[Seq[Int]] = None): Unit = {
    ExactCatalog.compact(spark, cntDir(root), retainAddedFrom, buckets)
    ExactCatalog.compact(spark, sigDir(root), retainAddedFrom, buckets)
    ExactCatalog.compact(spark, blockDir(root), retainAddedFrom, buckets)
  }

  /** Re-shard ALL tiers into `toRoot` under a new bucket count. Cnt and
    * sig first, block last: [[isCommitted]] requires all three metas,
    * and the block tier's meta doubles as the trio's commit marker — a
    * crash between them leaves an uncommitted version every resolve
    * skips. */
  def rebucket(
      spark: SparkSession, fromRoot: String, toRoot: String,
      newBuckets: Int): Unit = {
    ExactCatalog.rebucket(spark, cntDir(fromRoot), cntDir(toRoot), newBuckets)
    ExactCatalog.rebucket(spark, sigDir(fromRoot), sigDir(toRoot), newBuckets)
    ExactCatalog.rebucket(spark, blockDir(fromRoot), blockDir(toRoot),
      newBuckets)
  }

  /** Committed = ALL tiers carry meta (see [[rebucket]] ordering). */
  def isCommitted(spark: SparkSession, root: String): Boolean =
    ExactCatalog.readMeta(spark, blockDir(root)).isDefined &&
      ExactCatalog.readMeta(spark, sigDir(root)).isDefined &&
      ExactCatalog.readMeta(spark, cntDir(root)).isDefined

  /** Growth signals from the SIG tier (n rows per video vs the block
    * tier's 4 — it is the denser and therefore binding layout); a
    * recommended Compact runs on both tiers. */
  def maintain(
      spark: SparkSession, root: String,
      policy: graft.ops.GrowthPolicy.Policy = graft.ops.GrowthPolicy.Policy(),
      autoCompact: Boolean = false): Seq[graft.ops.GrowthPolicy.Action] = {
    val acts = ExactCatalog.maintain(spark, sigDir(root), policy,
      autoCompact = false)
    if (autoCompact) BucketedStore.compactAll(acts)(bs =>
      compact(spark, root, buckets = Some(bs)))
    acts
  }

  /** [[maintain]] over a [[graft.ops.VersionedStore]] root holding
    * version dirs that are themselves catalog PAIRS — a tripped Rebucket
    * re-shards both tiers into the next version atomically-by-marker
    * (see [[rebucket]]), predecessors retired after the swap. */
  def maintainVersioned(
      spark: SparkSession, root: String,
      policy: graft.ops.GrowthPolicy.Policy = graft.ops.GrowthPolicy.Policy(),
      autoCompact: Boolean = true
  ): (String, Seq[graft.ops.GrowthPolicy.Action]) =
    BucketedStore.maintainVersioned(spark, root, "video catalog",
      isCommitted(spark, _), maintain(spark, _, policy),
      rebucket(spark, _, _, _), (d, bs) => compact(spark, d, buckets = Some(bs)),
      autoCompact)
}
