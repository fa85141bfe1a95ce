package graft

import org.apache.spark.sql.graftprobe.CacheProbe
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphAlgorithms
import graft.pipeline.{Dedup, PipelineCaches, Similarity}

/** Round-7 regression guard: `PipelineCaches.clear()` must release every
  * SQL cache the pipeline operators created, even when the tracked
  * `DataFrame` handles are no longer referenced by anyone else. The old
  * weak-reference registry failed exactly that way — handles were
  * collected before `clear()`, the CacheManager kept the InMemoryRelations
  * alive for the JVM's lifetime, and the 100-query bench accumulated
  * caches until eviction thrashed. These tests pin the strong-ref fix with
  * CacheManager-level assertions, not registry bookkeeping alone.
  */
class CacheHygieneSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "entirely different text about spark cache lifecycles")
  ).toDF("doc_id", "text")

  private def embeddings = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("clear() empties the SQL CacheManager after pipeline operators run") {
    spark.catalog.clearCache()
    PipelineCaches.clear()
    assert(CacheProbe.isEmpty(spark))

    // operators that persist internal signature/vector tables
    Dedup.minhashPairs(docs).count()
    Dedup.ngramJaccardPairs(docs).count()
    Similarity.cosinePairs(embeddings).count()
    assert(!CacheProbe.isEmpty(spark),
      "precondition: the operators should have cached intermediates")

    // Drop every external handle and force a GC: under the old weak-ref
    // registry this is what made the entries unreachable before clear().
    System.gc()
    Thread.sleep(50)

    PipelineCaches.clear()
    assert(CacheProbe.isEmpty(spark),
      "SQL caches survived clear() — the round-7 leak is back")
    assert(PipelineCaches.trackedCount == 0)
  }

  test("clear() leaves caches it does not own untouched") {
    spark.catalog.clearCache()
    PipelineCaches.clear()
    val mine = docs.cache()
    mine.count()
    Dedup.minhashPairs(docs).count()
    PipelineCaches.clear()
    assert(CacheProbe.entryCount(spark) == 1,
      "clear() should release only pipeline-tracked caches")
    mine.unpersist(blocking = true)
    assert(CacheProbe.isEmpty(spark))
  }

  test("clear() releases every RDD the graph round loops persisted") {
    PipelineCaches.clear(blocking = true)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val g = new GraftSession(spark)
    g.registerTable("hn", (1L to 6L).map(i => (i, s"v$i")).toDF("id", "name"))
    // a 3-cycle, a 2-cycle behind a one-way bridge, and a pendant
    g.registerTable("HE", Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
        (4L, 5L), (5L, 4L), (5L, 6L)).toDF("from_H", "to_H"))
    g.registerNode("H", "hn", "id")
    g.registerRel("HE", "HE", "H", "H")
    GraphAlgorithms.kCore(g, "HE", k = 2).collect()
    GraphAlgorithms.louvain(g, "HE", levels = 2).collect()
    GraphAlgorithms.stronglyConnectedComponents(g, "HE").collect()
    val created = sc.getPersistentRDDs.keySet -- before
    assert(created.nonEmpty,
      "precondition: the round loops should have persisted their state")
    PipelineCaches.clear(blocking = true)
    assert(PipelineCaches.trackedCount == 0)
    val left = sc.getPersistentRDDs.keySet.intersect(created)
    assert(left.isEmpty, s"RDDs still persisted after clear(): $left")
  }

  test("entryCount tracks cache/uncache") {
    spark.catalog.clearCache()
    val before = CacheProbe.entryCount(spark)
    assert(before == 0)
    val df = docs.cache()
    df.count()
    assert(CacheProbe.entryCount(spark) == 1)
    df.unpersist(blocking = true)
    assert(CacheProbe.entryCount(spark) == 0)
  }
}
