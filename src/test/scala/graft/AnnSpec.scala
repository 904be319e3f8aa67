package graft

import org.apache.spark.sql.functions._
import graft.ann.Ann

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  private lazy val items = Seq(
    (1L, vec(1, 0, 0, 0)), (2L, vec(0.9, 0.1, 0, 0)), (3L, vec(0, 1, 0, 0)),
    (4L, vec(0, 0, 1, 0)), (5L, vec(-1, 0, 0, 0))).toDF("vec_id", "embedding")

  test("brute-force top-k: exact neighbors, deterministic order") {
    val queries = Seq((100L, vec(1, 0, 0, 0))).toDF("qid", "qvec")
    val got = Ann.bruteForceTopK(items, queries, 3)
      .select("rank", "item_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("lsh top-k finds the true nearest for aligned vectors") {
    val queries = Seq((100L, vec(1, 0.05, 0, 0))).toDF("qid", "qvec")
    val got = Ann.lshTopK(items, queries, 2, nPlanes = 6, dim = 4)
      .select("item_id").as[Long].collect().toSet
    assert(got.contains(1L) || got.contains(2L)) // bucketed recall
    // orthogonal/opposite vectors must not outrank near ones
    assert(!got.contains(5L))
  }

  test("ivf top-k recovers the exact nearest with full probe") {
    val queries = Seq((100L, vec(0.95, 0.05, 0, 0))).toDF("qid", "qvec")
    val got = Ann.ivfTopK(items, queries, 2, nlist = 5, nprobe = 5)
      .select("rank", "item_id").as[(Long, Long)].collect().toSeq
    assert(got.head._2 == 1L || got.head._2 == 2L)
    assert(got.size == 2)
  }

  test("ivf centroid sampling self-heals when the hash sample comes up " +
      "short (skew/small-corpus fallback relaxes the modulus)") {
    // 5 items, nlist=4 → step=1 path is fine; force the sparse-sample case
    // with a larger nlist than hash-survivors: ids chosen so that
    // pmod(xxhash64(id), step) == 0 misses most rows at the initial step.
    val wide = (1L to 40L).map(i => (i, vec(i % 7, (i + 1) % 5, 1, 0)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, vec(1, 1, 1, 0))).toDF("qid", "qvec")
    val got = Ann.ivfTopK(wide, queries, k = 3, nlist = 16, nprobe = 16)
    // regardless of hash luck, the fallback guarantees >= min(nlist, n)
    // centroids, so probing all lists returns a full top-k
    assert(got.count() == 3)
  }

  test("lloyd-refined ivf stays exact under full probe and beats or " +
      "matches seed centroids' recall at nprobe=2 on the real table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    // full probe: every list scanned — refined centroids must not change
    // the answer (partition of the corpus is exhaustive either way)
    val exact = Ann.bruteForceTopK(emb, queries, 3)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val full = Ann.ivfTopK(emb, queries, 3, nlist = 8, nprobe = 8, lloydIters = 2)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    assert(full == exact, "full-probe ivf must equal brute force")
    // partial probe: recall of the refined quantizer >= the seed sample's
    def recall(iters: Int): Double = {
      val got = Ann.ivfTopK(emb, queries, 3, nlist = 8, nprobe = 2, lloydIters = iters)
        .select("query_id", "item_id").as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val r0 = recall(0); val r2 = recall(2)
    info(f"ivf recall@nprobe=2: seed=$r0%.3f lloyd2=$r2%.3f")
    assert(r2 >= r0 - 0.10, "lloyd refinement must not collapse recall")
    assert(r2 >= 0.5, "refined quantizer should keep most true neighbors")
  }

  test("works on the driver embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = Ann.bruteForceTopK(emb, queries, 5)
    val rows = got.collect()
    assert(rows.length == 15)
    // self-match is rank 1 with cos ~ 1
    val self = got.filter($"rank" === 1).select($"query_id", $"item_id", $"cos").collect()
    assert(self.forall(r => r.getLong(0) == r.getLong(1)))
    assert(self.forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-4))
  }

  test("semDedup: groups within clusters, paper keeper rule, singletons " +
      "kept, cross-cluster near-dups NOT compared (documented recall gap)") {
    // two orthogonal centroids; items 1,2,3 form one duplicate group in
    // cluster 0 (pairwise cos >= 0.95); 4 is a cluster-1 singleton; 5 and 6
    // are near-dups of EACH OTHER (cos ~ 0.999) but straddle the centroid
    // boundary — SemDeDup's approximation must keep both
    val cents = Seq((0L, vec(1, 0, 0, 0)), (100L, vec(0, 1, 0, 0)))
      .toDF("cent_id", "cvec")
    val its = Seq(
      (1L, vec(1, 0, 0, 0)),
      (2L, vec(0.995, 0.0999, 0, 0)),
      (3L, vec(0.99, 0.141, 0, 0)),
      (4L, vec(0, 1, 0, 0)),
      (5L, vec(0.72, 0.69, 0, 0)),
      (6L, vec(0.69, 0.72, 0, 0))).toDF("vec_id", "embedding")
    val out = Ann.semDedup(its, cents, tau = 0.95)
      .select($"item_id", $"cent_id", $"group_id", $"keep")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // assignment: 1,2,3,5 -> centroid 0; 4,6 -> centroid 100
    assert(out.map(_._2).toSeq == Seq(0L, 0L, 0L, 100L, 0L, 100L))
    // duplicate group {1,2,3} labeled by its min id; 4,5,6 singletons
    assert(out.map(_._3).toSeq == Seq(1L, 1L, 1L, 4L, 5L, 6L))
    // keeper in {1,2,3} = lowest cos-to-centroid = item 3 (most peripheral)
    assert(out.map(_._4).toSeq == Seq(false, false, true, true, true, true))
  }

  test("semDedup oversize-cluster cap drops pair generation for the hot " +
      "cluster; its members then keep themselves; the metrics companion " +
      "surfaces the skip (never silent)") {
    val cents = Seq((0L, vec(1, 0, 0, 0))).toDF("cent_id", "cvec")
    val its = (1L to 10L).map(i => (i, vec(1, 0.0001 * i, 0, 0)))
      .toDF("vec_id", "embedding")
    val out = Ann.semDedup(its, cents, tau = 0.9, maxClusterSize = 5)
      .select($"keep").as[Boolean].collect()
    assert(out.length == 10 && out.forall(identity))
    val m = Ann.semDedupClusterMetrics(its, cents, maxClusterSize = 5)
    assert(m.cappedKeys == 1 && m.droppedRows == 10 && m.maxBlockSize == 10)
  }

  test("semDedup rejects an empty centroid set instead of silently " +
      "dropping the corpus") {
    val its = Seq((1L, vec(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val none = Seq.empty[(Long, Array[Float])].toDF("cent_id", "cvec")
    val e = intercept[IllegalArgumentException] {
      Ann.semDedup(its, none, tau = 0.9)
    }
    assert(e.getMessage.contains("centroids must be non-empty"))
  }

  test("semDedup leaves no cache entry once the library scratch is reclaimed") {
    val before = org.apache.spark.sql.CacheProbe.cachedEntries(spark)
    val cents = Seq((0L, vec(1, 0, 0, 0)), (100L, vec(0, 1, 0, 0)))
      .toDF("cent_id", "cvec")
    assert(Ann.semDedup(items, cents, tau = 0.9).count() == 5)
    graft.pipeline.Dedupe.reclaimLibraryScratch(spark)
    assert(org.apache.spark.sql.CacheProbe.cachedEntries(spark) <= before)
  }
}
