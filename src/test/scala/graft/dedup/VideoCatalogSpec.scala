package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.VideoFixtures

class VideoCatalogSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-vidcat-spec").toString

  private def vids(ids: Seq[Long], seedOf: Long => Long,
      variantOf: Long => Int = _ => 0): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, VideoFixtures.syntheticAvi(seedOf(i), variantOf(i))))
      .toDF("id", "vid")
  }

  test("cross-batch: byte copies AND whole-video re-encodes drop, fresh survive, replay suppressive") {
    val root = tmpDir() + "/cat"
    // prior corpus: seeds 0..9
    val _ = VideoCatalog.applyBatch(vids(0L until 10L, identity),
      root, "id", "vid", added = 0L)
    // batch: byte copies of seeds 0..2, re-encodes of seeds 3..5
    // (every frame upscaled + brightness-shifted: new bytes, aligned
    // hashes within radius), fresh seeds 700..702
    val batch = vids(100L until 103L, _ - 100L)
      .unionByName(vids(200L until 203L, _ - 197L, _ => 1))
      .unionByName(vids(700L until 703L, identity))
    var delivered: Set[Long] = null
    val out = VideoCatalog.applyBatch(batch, root, "id", "vid", added = 1L,
      deliver = d => delivered = d.select("id").collect().map(_.getLong(0)).toSet)
    assert(delivered == (700L until 703L).toSet)
    assert(out.select("id").collect().map(_.getLong(0)).toSet == delivered)
    // replay: the survivors' signatures are now catalog members
    assert(VideoCatalog.applyBatch(batch, root, "id", "vid", added = 2L)
      .count() == 0)
  }

  test("in-batch collapse: a re-encode pair keeps its min id; undecodable payloads pass and never enter the catalog") {
    import spark.implicits._
    val root = tmpDir() + "/inb"
    val batch = vids(Seq(400L), _ => 500L)
      .unionByName(vids(Seq(401L), _ => 500L, _ => 1)) // re-encode of 400
      .unionByName(vids(Seq(402L), _ => 501L))
      .unionByName(Seq((9L, "junk".getBytes)).toDF("id", "vid"))
    val out = VideoCatalog.applyBatch(batch, root, "id", "vid")
    assert(out.select("id").collect().map(_.getLong(0)).toSet ==
      Set(400L, 402L, 9L))
    // the junk payload is not catalog state: replaying it passes again
    assert(VideoCatalog.applyBatch(
      Seq((10L, "junk".getBytes)).toDF("id", "vid"), root, "id", "vid",
      added = 1L).count() == 1)
  }

  test("frame count is a layout property: meta-derived n wins over a divergent caller") {
    val root = tmpDir() + "/nmeta"
    val _ = VideoCatalog.applyBatch(vids(0L until 5L, identity),
      root, "id", "vid", n = 4)
    assert(VideoCatalog.metaFrames(spark, root).contains(4))
    // a caller passing n=2 probes under the meta's n=4 (the family
    // convention) — the byte copy still drops, because both sides
    // fingerprinted at the recorded width
    val out = VideoCatalog.applyBatch(vids(Seq(100L), _ => 3L),
      root, "id", "vid", n = 2, added = 1L)
    assert(out.count() == 0)
  }

  test("kind universe guard: video tiers refuse foreign readers in both directions") {
    val root = tmpDir() + "/kinds"
    val _ = VideoCatalog.applyBatch(vids(0L until 3L, identity),
      root, "id", "vid")
    val e1 = intercept[IllegalArgumentException] {
      ExactCatalog.read(spark, VideoCatalog.blockDir(root))
    }
    assert(e1.getMessage.contains(VideoCatalog.blockKind(4)))
    // a sig-tier reader must refuse the blocking tier (same pair, same
    // n, different universes)
    val e2 = intercept[IllegalArgumentException] {
      ExactCatalog.readForBatch(spark, VideoCatalog.blockDir(root),
        spark.range(1).select(col("id").as("fp")),
        kind = VideoCatalog.sigKind(4))
    }
    assert(e2.getMessage.contains(VideoCatalog.blockKind(4)))
  }

  test("contiguity guard: a partial sig append never confirms a drop; the replay self-heals") {
    val root = tmpDir() + "/partial"
    val prior = VideoCatalog.withSignature(
      vids(0L until 3L, identity), "id", "vid", 4)
    // simulate a crash mid-append: blocking rows landed, sig rows only
    // for frame k = 0
    ExactCatalog.append(
      VideoCatalog.sigEntriesOf(prior, 4)
        .join(prior.select(VideoCatalog.frameFp(col("vid"), lit(0)).as("fp")),
          Seq("fp"), "left_semi"),
      VideoCatalog.sigDir(root), kind = VideoCatalog.sigKind(4))
    ExactCatalog.append(VideoCatalog.blockEntriesOf(prior),
      VideoCatalog.blockDir(root), kind = VideoCatalog.blockKind(4))
    // a byte copy of seed 1 must SURVIVE (candidate generated, but the
    // catalog signature is incomplete — dropping on it would be a
    // chimera confirm), and its append completes the catalog
    val out = VideoCatalog.applyBatch(vids(Seq(100L), _ => 1L),
      root, "id", "vid", added = 1L)
    assert(out.count() == 1)
    // now the full signature is present: the next copy drops
    assert(VideoCatalog.applyBatch(vids(Seq(101L), _ => 1L),
      root, "id", "vid", added = 2L).count() == 0)
  }

  test("completeness guard: a sig PREFIX left by a partial append never confirms a short batch video") {
    import spark.implicits._
    val root = tmpDir() + "/prefix"
    val prior = VideoCatalog.withSignature(vids(Seq(0L), _ => 1L), "id", "vid", 4)
    // the r13 ADVICE crash window: cnt + block landed, sig rows landed
    // only for frames k = 0..1 — a CONTIGUOUS prefix the old
    // contiguity-only guard accepted
    ExactCatalog.append(VideoCatalog.cntEntriesOf(prior),
      VideoCatalog.cntDir(root), kind = VideoCatalog.cntKind(4))
    ExactCatalog.append(
      VideoCatalog.sigEntriesOf(prior, 4)
        .join(prior.select(VideoCatalog.frameFp(col("vid"), lit(0)).as("fp"))
          .unionByName(
            prior.select(VideoCatalog.frameFp(col("vid"), lit(1)).as("fp"))),
          Seq("fp"), "left_semi"),
      VideoCatalog.sigDir(root), kind = VideoCatalog.sigKind(4))
    ExactCatalog.append(VideoCatalog.blockEntriesOf(prior),
      VideoCatalog.blockDir(root), kind = VideoCatalog.blockKind(4))
    // a batch video with genuinely TWO frames equal to the catalog
    // video's first two: aligned Hamming 0 against the prefix, so only
    // the recorded count (4 != 2) can reject the confirm
    val shortVid = Seq(
      (100L, graft.functions.VideoFixtures.syntheticAvi(1L, 0, frames = 2)))
      .toDF("id", "vid")
    assert(VideoCatalog.applyBatch(shortVid, root, "id", "vid",
      added = 1L).count() == 1,
      "a prefix of a longer catalog video must never confirm a short batch video")
    // and once a REAL 2-frame video is cataloged, its copy still drops
    // (the count tier records m = 2 for it)
    assert(VideoCatalog.applyBatch(
      Seq((101L, graft.functions.VideoFixtures.syntheticAvi(1L, 0, frames = 2)))
        .toDF("id", "vid"), root, "id", "vid", added = 2L).count() == 0)
  }

  test("lifecycle: compaction collapses replayed appends; pair rebucket carries both kinds") {
    val root = tmpDir() + "/life"
    val hashed = VideoCatalog.withSignature(
      vids(0L until 5L, identity), "id", "vid", 4)
    VideoCatalog.append(hashed, root, 4, added = 1L)
    VideoCatalog.append(hashed, root, 4, added = 2L) // replayed append
    VideoCatalog.compact(spark, root)
    assert(ExactCatalog.read(spark, VideoCatalog.sigDir(root),
      kind = VideoCatalog.sigKind(4)).count() == 20) // 5 videos x 4 frames
    assert(ExactCatalog.read(spark, VideoCatalog.blockDir(root),
      kind = VideoCatalog.blockKind(4)).count() == 20) // 5 videos x 4 quarters
    val to = tmpDir() + "/life2"
    VideoCatalog.rebucket(spark, root, to, newBuckets = 8)
    assert(VideoCatalog.isCommitted(spark, to))
    assert(VideoCatalog.metaFrames(spark, to).contains(4))
    // the rebucketed pair still suppresses
    assert(VideoCatalog.applyBatch(vids(Seq(900L), _ => 2L),
      to, "id", "vid", added = 3L).count() == 0)
  }

  test("streaming wrapper: state persists across batches with per-bucket hygiene") {
    val root = tmpDir() + "/stream"
    val _ = graft.streaming.StreamingVideoDedup.applyBatch(
      vids(0L until 6L, identity), root, "id", "vid",
      compactAboveFiles = 1, added = 1L)
    val out2 = graft.streaming.StreamingVideoDedup.applyBatch(
      vids(100L until 103L, _ - 100L) // copies of 0..2
        .unionByName(vids(110L until 112L, _ - 107L, _ => 1)) // re-encodes of 3..4
        .unionByName(vids(Seq(901L), identity)),
      root, "id", "vid", compactAboveFiles = 1, added = 2L)
    assert(out2.select("id").collect().map(_.getLong(0)).toSet == Set(901L))
  }

  test("versioned root: tripped maintenance cuts the stream over mid-flight, state intact") {
    val root = tmpDir() + "/vroot"
    // trigger 1 bootstraps v1 from an empty root
    val s1 = graft.streaming.StreamingVideoDedup.applyBatchVersioned(
      vids(0L until 6L, identity), root, "id", "vid",
      numBuckets = 4, added = 1L)
    assert(s1.count() == 6)
    assert(graft.ops.VersionedStore.current(spark, root,
      d => VideoCatalog.isCommitted(spark, d))
      .contains(graft.ops.VersionedStore.versionDir(root, 1)))
    // trigger 2 lands on the maintenance cadence with a tight byte
    // target: Rebucket trips and EXECUTES into v2 mid-stream
    val s2 = graft.streaming.StreamingVideoDedup.applyBatchVersioned(
      vids(100L until 103L, _ - 100L), root, "id", "vid",
      added = 2L, maintainEvery = 2L,
      policy = graft.ops.GrowthPolicy.Policy(
        targetBucketBytes = 1L, maxFilesPerBucket = 64))
    assert(s2.count() == 0, "copies of v1 survivors must drop before the cutover")
    val serving = graft.ops.VersionedStore.current(spark, root,
      d => VideoCatalog.isCommitted(spark, d)).get
    assert(serving == graft.ops.VersionedStore.versionDir(root, 2))
    assert(!new java.io.File(graft.ops.VersionedStore.versionDir(root, 1))
      .exists(), "retired predecessor must be swept")
    // trigger 3 probes the NEW version with default args: dedup memory
    // carried through the mid-stream rebucket (re-encodes drop too)
    assert(graft.streaming.StreamingVideoDedup.applyBatchVersioned(
      vids(200L until 203L, _ - 197L, _ => 1), root, "id", "vid",
      added = 3L).count() == 0)
  }

  test("fused-probe budget: the distributed fallback gives the same survivors") {
    val fused = tmpDir() + "/fused"
    val fallback = tmpDir() + "/fallback"
    for (root <- Seq(fused, fallback)) {
      val _ = VideoCatalog.applyBatch(vids(0L until 10L, identity),
        root, "id", "vid", added = 0L)
    }
    // byte copies of seeds 0..2, re-encodes of seeds 3..5, fresh 700..702
    val batch = vids(100L until 103L, _ - 100L)
      .unionByName(vids(200L until 203L, _ - 197L, _ => 1))
      .unionByName(vids(700L until 703L, identity))
    def ids(df: DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    val viaFused = ids(VideoCatalog.applyBatch(batch, fused, "id", "vid",
      added = 1L))
    // a zero budget admits no candidate vid to the driver: every probe
    // with candidates takes the per-tier readForBatch path
    val viaFallback = ids(VideoCatalog.applyBatchWithin(0)(batch, fallback,
      "id", "vid", VideoDedup.DefaultSampledFrames,
      ImageDedup.MaxBlockedHamming, ExactCatalog.DefaultBuckets, 1L,
      ExactCatalog.DefaultMaxPushdownKeys, 4096, _ => ()))
    assert(viaFused == (700L until 703L).toSet)
    assert(viaFallback == viaFused)
  }
}
