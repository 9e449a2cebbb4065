package graft.ops

import graft.SparkSpec

class StorageHandleSpec extends SparkSpec {

  private def docs() = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the old river bank " +
      "while birds sing in the tall green trees beside the quiet water"
    Seq(
      (1L, base), (2L, base.replace("quick", "fast")),
      (3L, "completely different content about database engines and query optimization"),
      (4L, base),
    ).toDF("doc_id", "text")
  }

  test("managed handle: minHashPairs construction runs no jobs, release drops every cache") {
    spark.catalog.clearCache()
    val handle = StorageHandle()
    var result: org.apache.spark.sql.DataFrame = null
    val constructionJobs = countJobs {
      result = Dedup.minHashPairs(docs(), handle = handle)
    }
    assert(constructionJobs == 0,
      s"managed construction must be lazy but ran $constructionJobs jobs")

    val pairs = result.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty, "pipeline caches should be live before release")

    handle.release(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"release() must drop all tracked caches, still live: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("managed handle: cosineNearDupPairs construction is lazy and releasable") {
    import spark.implicits._
    spark.catalog.clearCache()
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val handle = StorageHandle()
    var result: org.apache.spark.sql.DataFrame = null
    val constructionJobs = countJobs {
      result = Ann.cosineNearDupPairs(vecs, threshold = 0.9, dim = 4, numPlanes = 8, bands = 4, handle = handle)
    }
    assert(constructionJobs == 0,
      s"managed construction must be lazy but ran $constructionJobs jobs")
    val got = result.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    handle.release(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("release is idempotent and unmanaged tracking is a no-op") {
    val handle = StorageHandle()
    handle.release()
    handle.release() // second call must not throw
    assert(!StorageHandle.unmanaged.managed)
  }
}
