package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import thrivespark.Shared

/** The shared-stage registry (thrivespark.Shared): storage dedup, the
  * release path and eviction. These tests pin that (a) re-deriving the same
  * shared frame does NOT create a second cache entry, (b) Shared.release
  * actually frees storage — persisted plans stop resolving to
  * InMemoryRelation and checkpoint blocks leave the BlockManager — and
  * (c) eviction never breaks a checkpoint-backed frame a caller holds. */
class SharedCacheSpec extends AnyFunSuite {
  import SparkTestBase._

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.withCachedData.toString.contains("InMemoryRelation")

  /** Two docs sharing 15 tokens, built fresh on every call. */
  private def windowDocs() = {
    import spark.implicits._
    Seq((1L, (0 until 20).map("w" + _).mkString(" ")),
      (2L, (5 until 25).map("w" + _).mkString(" "))).toDF("doc_id", "text")
  }

  test("windowIndex dedupes storage across separately-built frames and " +
      "releaseSharedCaches uncaches it") {
    val cm = spark.sharedState.cacheManager
    Shared.release(spark)
    val idx1 = thrivespark.ops.Text.windowIndex(windowDocs(), 8)
    assert(cached(idx1), "first derivation must be cache-backed")
    // independent construction of the SAME derivation: no new entry, the
    // plan resolves to the existing InMemoryRelation
    val idx2 = thrivespark.ops.Text.windowIndex(windowDocs(), 8)
    assert(cached(idx2), "re-derivation must resolve to the cached entry")
    assert(idx1.collect().toSet == idx2.collect().toSet)
    // a DIFFERENT K is a different derivation — its own entry, both live
    val idx3 = thrivespark.ops.Text.windowIndex(windowDocs(), 4)
    assert(cached(idx3) && idx3.count() > idx1.count())
    Shared.release(spark)
    // after release the derivations' own plans no longer hit the cache
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Seq(idx1, idx3).foreach { idx =>
      assert(cm.lookupCachedData(classic, idx.queryExecution.analyzed).isEmpty,
        "released derivation must not linger in the CacheManager")
    }
  }

  test("filterFlags routes through the releasable registry (r13 advisory)") {
    import spark.implicits._
    def docs() = Seq((1L, ("the a " * 15).trim),
      (2L, (0 until 25).map("t" + _).mkString(" "))).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    Shared.release(spark)
    val f1 = thrivespark.ops.Text.filterFlags(docs())
    assert(cached(f1), "filterFlags must be cache-backed")
    val rows = f1.collect()
    assert(rows.nonEmpty)
    Shared.release(spark)
    val f2 = thrivespark.ops.Text.filterFlags(docs())
    // re-derivable after release, same values
    assert(f2.collect().toSet == rows.toSet)
    Shared.release(spark)
  }

  test("shared paragraph edges (r18): same frame object across the four " +
      "graph ops' derivations; rank cache hits on it; release re-derives") {
    import spark.implicits._
    def docs() = Seq(
      (1L, (0 until 20).map("p" + _).mkString(" ")),
      (2L, (0 until 20).map("p" + _).mkString(" ")),
      (3L, (40 until 60).map("q" + _).mkString(" "))).toDF("doc_id", "text")
    Shared.release(spark)
    val e1 = thrivespark.ops.Dedup.sharedParagraphEdges(docs(), 100)
    val e2 = thrivespark.ops.Dedup.sharedParagraphEdges(docs(), 100)
    // the registry returns the SAME checkpointed frame — this identity is
    // what makes dedup_canonical_rank's rank lookup hit graph_pagerank's
    // cached result (the rank cache keys on the edge frame's plan)
    assert(e1 eq e2, "re-derivation must return the cached checkpointed frame")
    val r1 = thrivespark.ops.Dedup.pagerankFrom(e1, 3)
    val r2 = thrivespark.ops.Dedup.pagerankFrom(e2, 3)
    assert(r1 eq r2, "same edge frame + iters must hit the rank cache")
    // a different maxDf is a different derivation (the valve is part of
    // the edge definition)
    val e3 = thrivespark.ops.Dedup.sharedParagraphEdges(docs(), 1)
    assert(!(e3 eq e1) && e3.count() == 0L,
      "maxDf=1 drops the shared paragraph (df=2) - different artifact")
    // collected before release: release hard-frees e1's checkpoint blocks
    val e1Rows = e1.collect().toSet
    Shared.release(spark)
    val e4 = thrivespark.ops.Dedup.sharedParagraphEdges(docs(), 100)
    assert(!(e4 eq e1), "release must drop the registry entry")
    assert(e4.collect().toSet == e1Rows,
      "re-derived edges must be value-identical")
  }

  test("five windowIndex calls on freshly built docs leave one registry entry") {
    Shared.release(spark)
    (1 to 5).foreach(_ => thrivespark.ops.Text.windowIndex(windowDocs(), 8))
    val idx = Shared.keys(spark).filter(_.name == "windowIndex")
    assert(idx.size == 1, s"one derivation, one entry: $idx")
    Shared.release(spark)
  }

  test("Shared.release frees the checkpoint blocks behind shared edges and ranks") {
    import spark.implicits._
    val docs = Seq(
      (1L, (0 until 20).map("p" + _).mkString(" ")),
      (2L, (0 until 20).map("p" + _).mkString(" ")),
      (3L, (0 until 10).map("p" + _).mkString(" "))).toDF("doc_id", "text")
    Shared.release(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = thrivespark.ops.Dedup.sharedParagraphEdges(docs, 100)
    val ranks = thrivespark.ops.Dedup.pagerankFrom(edges, 3)
    assert(ranks.count() == 3L)
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
      "edges and ranks must be checkpoint-backed")
    Shared.release(spark)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"release left persistent RDDs behind: $leaked")
  }

  test("a checkpoint-backed frame held by the caller still evaluates after " +
      "its entry is evicted") {
    val sv = thrivespark.ops.Pipeline.survivors(spark, sf0001)
    assert(sv.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD], "survivors is a checkpoint")
    val n = sv.count()
    // two more recently used dirs push sf0.001 out of the session's two
    Shared.stage(spark, Shared.Key("/evict-probe/a", "probe"))(0)
    Shared.stage(spark, Shared.Key("/evict-probe/b", "probe"))(0)
    assert(!Shared.keys(spark).exists(_.dir.contains(sf0001)),
      s"sf0.001 entries must be evicted: ${Shared.keys(spark)}")
    System.gc()
    assert(sv.count() == n, "eviction must not free a held checkpoint")
  }
}
