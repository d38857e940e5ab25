package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusPipeline, Curation, Dedup, EventAnalytics,
  Multimodal, Similarity}
import graft.plans.SetMemberCountBc
import graft.streaming.{DocStream, KafkaReplay}

/** GraftSession.release: every session-scoped artifact in [[Artifacts]]
  * (signature/pair, IVF, pixel and dHash indexes, the cleaned corpus,
  * cluster labels, the daily event aggregate, replay logs, eval shingle
  * sets and their probe broadcasts) must free its storage and leave the
  * registry on release — a long-lived session must not pin executor
  * memory forever — and every query must still be correct afterwards
  * (the next consumer rebuilds). Release is scoped by dir and by owner:
  * restoring one corpus's indexes must not evict its other artifacts.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("release unpersists and evicts all graft-pinned blocks") {
    val sc = spark.sparkContext
    // clean slate: on the shared test session another suite may already
    // have built (and pinned) this corpus's indexes, which would make
    // `during -- before` empty on suite-order grounds alone
    GraftSession.release(spark)
    val before = sc.getPersistentRDDs.keySet

    val pairsBefore = Dedup.dedupMinhashLsh(spark, dir)
      .collect().map(_.toSeq).toSet
    Dedup.dedupSimhash(spark, dir).count()
    CorpusPipeline.corpusClean(spark, dir).count()
    Multimodal.mmDhashNeardup(spark, dir).count() // pins the dhash sketch
    // one artifact of every other owner
    Similarity.buildIvfIndex(spark, dir)
    Curation.dedupClusters(spark, dir).count()
    EventAnalytics.tsGapfill(spark, dir).count()
    Multimodal.buildDhashSketch(spark, dir) // pins the pixel index
    KafkaReplay.load(dir, 2)
    SetMemberCountBc.column(spark, col("sh"),
      DocStream.evalShingleSet(spark, dir))
    assert(Artifacts.inventory(spark).map(_.owner).toSet == Set(
      Dedup.Owner, CorpusPipeline.Owner, Multimodal.Owner, Similarity.Owner,
      Curation.Owner, EventAnalytics.Owner, KafkaReplay.Owner,
      DocStream.Owner, SetMemberCountBc.Owner))

    val during = sc.getPersistentRDDs.keySet
    assert((during -- before).nonEmpty,
      "building the indexes must pin storage blocks")

    GraftSession.release(spark)
    val after = sc.getPersistentRDDs.keySet
    assert(after.intersect(during -- before).isEmpty,
      s"graft blocks survived release: ${after.intersect(during -- before)}")
    assert(Artifacts.inventory(spark).isEmpty,
      s"entries survived release: ${Artifacts.inventory(spark)}")
    assert((after -- before).isEmpty,
      s"persistent RDDs survived release: ${after -- before}")

    // releasing twice is a no-op, and queries rebuild correctly
    GraftSession.release(spark)
    val pairsAfter = Dedup.dedupMinhashLsh(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(pairsAfter == pairsBefore)
    GraftSession.release(spark)
  }

  test("release(dir) leaves other corpora's caches pinned") {
    val sc = spark.sparkContext
    GraftSession.release(spark) // clean slate
    val base = sc.getPersistentRDDs.keySet
    Dedup.dedupMinhashLsh(spark, "/root/testdata/sf0.001").count()
    val withA = sc.getPersistentRDDs.keySet
    Dedup.dedupMinhashLsh(spark, "/root/testdata/sf0.01").count()
    val withBoth = sc.getPersistentRDDs.keySet
    assert((withBoth -- withA).nonEmpty)

    GraftSession.release(spark, Some("/root/testdata/sf0.01"))
    val after = sc.getPersistentRDDs.keySet
    assert(after.intersect(withBoth -- withA).isEmpty,
      "released corpus blocks must be gone")
    assert((withA -- base).subsetOf(after),
      "unreleased corpus blocks must survive")
    GraftSession.release(spark)
  }

  test("release frees the cluster memo's checkpoint blocks too") {
    val sc = spark.sparkContext
    GraftSession.release(spark)
    val base = sc.getPersistentRDDs.keySet
    graft.operators.Curation.dedupClusters(spark, dir).count()
    val during = sc.getPersistentRDDs.keySet
    assert((during -- base).nonEmpty,
      "the converged-labels memo must hold storage (checkpoint RDD)")
    GraftSession.release(spark)
    val after = sc.getPersistentRDDs.keySet
    assert(after.intersect(during -- base).isEmpty,
      s"cluster memo blocks survived release: ${after.intersect(during -- base)}")
  }

  test("release evicts KafkaReplay's driver-side partition logs (r10 " +
      "advice: one full replayed event log leaked per cycled session)") {
    def isCached: Boolean =
      Artifacts.inventory(spark).exists(_.owner == KafkaReplay.Owner)
    GraftSession.release(spark)
    assert(!isCached)
    KafkaReplay.load(dir, 2) // materialize under SparkSession.active
    assert(isCached,
      "load must memoize the replay log for this session")
    GraftSession.release(spark, Some("/some/other/dir"))
    assert(isCached,
      "releasing another corpus must not evict this fixture's log")
    GraftSession.release(spark, Some(dir))
    assert(!isCached,
      "release(dir) must evict the replay log for that fixture")
    KafkaReplay.load(dir, 2)
    GraftSession.release(spark) // the release-everything flavor
    assert(!isCached)
  }

  test("loadIndexes replaces only the dedup and IVF entries of its dir") {
    val sc = spark.sparkContext
    GraftSession.release(spark)
    val base = sc.getPersistentRDDs.keySet
    val tmp = java.nio.file.Files.createTempDirectory("owner_scope").toString
    Dedup.buildIndexes(spark, dir)
    Similarity.buildIvfIndex(spark, dir)
    Dedup.saveDedupIndex(spark, dir, s"$tmp/dedup")
    Similarity.saveIvfIndex(spark, dir, s"$tmp/ivf")
    val indexed = sc.getPersistentRDDs.keySet
    Curation.dedupClusters(spark, dir).count()
    EventAnalytics.tsGapfill(spark, dir).count()
    Multimodal.buildDhashSketch(spark, dir)
    val kept = Set(Curation.Owner, EventAnalytics.Owner, Multimodal.Owner)
    def names(owners: Set[String]) =
      Artifacts.inventory(spark).filter(n => owners(n.owner)).toSet
    val keptNames = names(kept)
    assert(keptNames.map(_.owner) == kept)
    val keptBlocks = sc.getPersistentRDDs.keySet -- indexed

    GraftSession.loadIndexes(spark, dir, s"$tmp/dedup", s"$tmp/ivf")
    val after = sc.getPersistentRDDs.keySet
    assert(names(kept) == keptNames,
      "restoring the indexes must not evict other owners' entries")
    assert(keptBlocks.subsetOf(after),
      s"other owners' blocks were freed: ${keptBlocks -- after}")
    assert(after.intersect(indexed -- base).isEmpty,
      "the built dedup and IVF blocks must be replaced by the restored ones")
    assert(names(Set(Dedup.Owner, Similarity.Owner)).map(_.owner) ==
      Set(Dedup.Owner, Similarity.Owner))
    GraftSession.release(spark)
  }

  test("session ids are stable per session and distinct across sessions") {
    val a = GraftSession.sessionId(spark)
    assert(a == GraftSession.sessionId(spark))
    val s2 = spark.newSession()
    assert(GraftSession.sessionId(s2) != a)
  }
}
