package graft

import org.apache.spark.sql.functions._
import graft.fixtures.PagesGen
import graft.model.{Model, PredicateSpec}
import graft.pipeline.{Dedupe, Eval}

/** End-to-end golden slice (SURVEY.md §7 step 1) + F1 parity harness
  * (FIXTURES.md F1–F3; BASELINE.json:2 "pairwise F1 ≥ 0.99"). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val model = Model(
    bias = -13.0,
    weights = Map(
      "jw_text_norm" -> 6.0,
      "lev_text_norm" -> 9.0,
      "exact_lang" -> 0.4),
    threshold = 0.5,
    predicates = Seq(
      PredicateSpec("token", "text_norm"),
      PredicateSpec("simhash", "text", bands = 4)))

  private lazy val (pages, truth) = PagesGen.generate(spark, nBase = 120, seed = 42L)
  private lazy val result =
    Dedupe.run(spark, pages.toDF(), Dedupe.Config(model, maxBlockSize = 500))

  test("pipeline runs end-to-end; every page gets an entity") {
    assert(result.metrics.records == pages.count())
    assert(result.entityMap.count() == result.metrics.records)
    assert(result.metrics.candidatePairs > 0)
    assert(result.metrics.entities > 0 &&
      result.metrics.entities <= result.metrics.records)
  }

  test("pairwise F1 >= 0.99 on labeled pairs at shared blocking keys") {
    val idTruth = Dedupe.prepare(pages.toDF())
      .select(col("id"), col("url"))
      .join(truth.toDF(), "url")
      .select(col("id"), col("cluster_id").as("cluster"))
    val prf = Eval.pairwiseF1(
      result.scoredPairs.select("id1", "id2", "score"), idTruth, model.threshold)
    info(s"pairwise P=${prf.precision} R=${prf.recall} F1=${prf.f1} " +
      s"(tp=${prf.tp} fp=${prf.fp} fn=${prf.fn})")
    assert(prf.f1 >= 0.99, s"F1 ${prf.f1} below 0.99")

    val cprf = Eval.clusteringF1(
      result.scoredPairs.select("id1", "id2"),
      result.entityMap.select(col("id"), col("component")), idTruth)
    info(s"clustering P=${cprf.precision} R=${cprf.recall} F1=${cprf.f1}")
    assert(cprf.f1 >= 0.99, s"clustering F1 ${cprf.f1} below 0.99")
  }

  test("byte-identity invariant: text bytes unchanged per url end-to-end") {
    // the pipeline only ADDS columns; assert the text hash per url in the
    // result lineage equals the raw input's (BASELINE.json:6,15)
    val pre = pages.toDF().select(col("url"), xxhash64(col("text")).as("h0"))
    val post = Dedupe.prepare(pages.toDF())
      .join(result.entityMap.select("url", "component"), "url")
      .select(col("url"), xxhash64(col("text")).as("h1"))
    val mismatches = pre.join(post, "url")
      .filter(col("h0") =!= col("h1")).count()
    assert(mismatches == 0L)
  }

  test("exact duplicates pre-group to the same entity") {
    // exact-duplicate variants (perturb kind 3) share text bytes → same rep
    val sameText = Dedupe.prepare(pages.toDF())
      .groupBy(col("text_hash")).agg(collect_set(col("id")).as("ids"))
      .filter(size(col("ids")) > 1)
    val exploded = sameText.select(explode(col("ids")).as("id"), col("text_hash"))
      .join(result.entityMap, "id")
    val groupsWithMultipleEntities = exploded
      .groupBy("text_hash")
      .agg(countDistinct(col("component")).as("n"))
      .filter(col("n") > 1).count()
    assert(groupsWithMultipleEntities == 0L)
  }

  test("canon table: one row per entity, deterministic medoid") {
    assert(result.canon.count() == result.metrics.entities)
    assert(result.canon.filter(col("url").isNull).count() == 0)
    // medoid determinism (unit): ties broken lexicographically
    assert(graft.cluster.Canonicalize.medoid(Seq("b", "a")) == "a")
    assert(graft.cluster.Canonicalize.medoid(Seq("abcd", "abcx", "zzzz")) == "abcd")
    assert(graft.cluster.Canonicalize.medoid(Seq(null, "x")) == "x")
    assert(graft.cluster.Canonicalize.medoid(Seq(null)) == null)
    // repeated values weight the pull: two "b"s outvote one "a"
    assert(graft.cluster.Canonicalize.medoid(Seq("b", "b", "a")) == "b")
  }

  test("voteTable: plurality winner, tie-breaks, all-null entity kept") {
    import spark.implicits._
    val labeled = Seq(
      // entity 1: 'b' wins p_name by count 2-1; city ties 1-1 -> longer
      (1L, "a", "nyc"), (1L, "b", "brooklyn"), (1L, "b", null),
      // entity 2: counts tie 1-1, lengths tie -> lexicographically larger
      (2L, "xx", ""), (2L, "zz", null),
      // entity 3: every field value null/empty -> row kept, null winners
      (3L, null, ""))
      .toDF("entity", "name", "city")
    val got = graft.cluster.Canonicalize.voteTable(labeled, "entity",
        Seq("name", "city"))
      .orderBy("entity").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got(0).getString(1) == "b" && got(0).getString(2) == "brooklyn")
    assert(got(0).getLong(3) == 3L)
    assert(got(1).getString(1) == "zz" && got(1).isNullAt(2))
    assert(got(2).isNullAt(1) && got(2).isNullAt(2) && got(2).getLong(3) == 1L)
  }
}
