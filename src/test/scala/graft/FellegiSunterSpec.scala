package graft

import org.apache.spark.sql.functions._
import graft.score.FellegiSunter
import graft.score.FellegiSunter.FsParams

class FellegiSunterSpec extends SparkSpec {
  import spark.implicits._

  test("em recovers a known two-class mixture from expected pattern counts") {
    // ground truth: lambda=0.2, m=(0.95,0.9,0.8), u=(0.05,0.1,0.2).
    // Feed EM the EXPECTED pattern histogram (N=1e6) — the MLE is then
    // the truth itself and 20 iterations should land close to it.
    val lam = 0.2; val m = Seq(0.95, 0.9, 0.8); val u = Seq(0.05, 0.1, 0.2)
    val pats = for (a <- 0 to 1; b <- 0 to 1; c <- 0 to 1) yield {
      val g = Seq(a, b, c)
      def pr(p: Seq[Double]) = g.zip(p).map { case (gi, pi) =>
        if (gi == 1) pi else 1.0 - pi }.product
      (g, math.round(1e6 * (lam * pr(m) + (1 - lam) * pr(u))))
    }
    val fit = FellegiSunter.emFit(pats, iters = 200)
    assert(math.abs(fit.lambda - lam) < 1e-3, s"lambda ${fit.lambda}")
    for (i <- 0 until 3) {
      assert(math.abs(fit.m(i) - m(i)) < 1e-3, s"m($i) ${fit.m(i)}")
      assert(math.abs(fit.u(i) - u(i)) < 1e-3, s"u($i) ${fit.u(i)}")
    }
  }

  test("em is deterministic under pattern input order") {
    val pats = Seq(
      (Seq(1, 1), 20L), (Seq(1, 0), 5L), (Seq(0, 1), 5L), (Seq(0, 0), 70L))
    val a = FellegiSunter.emFit(pats)
    val b = FellegiSunter.emFit(scala.util.Random.shuffle(pats))
    assert(a.lambda == b.lambda)
    assert(a.m.sameElements(b.m) && a.u.sameElements(b.u))
  }

  test("em clamps instead of NaN on degenerate single-pattern input") {
    val fit = FellegiSunter.emFit(Seq((Seq(1, 1), 100L)), iters = 50)
    assert(!fit.lambda.isNaN && fit.m.forall(!_.isNaN) && fit.u.forall(!_.isNaN))
    assert(fit.m.forall(x => x >= 1e-6 && x <= 1 - 1e-6))
  }

  test("fit over a DataFrame equals emFit over the hand-built histogram; " +
    "null gammas count as disagreement") {
    val rows =
      Seq.fill(20)((Some(1), 1)) ++ Seq.fill(5)((Some(1), 0)) ++
      Seq.fill(5)((Some(0), 1)) ++ Seq.fill(70)((None: Option[Int], 0))
    val df = rows.toDF("g1", "g2")
    val viaDf = FellegiSunter.fit(df, Seq("g1", "g2"))
    val viaHist = FellegiSunter.emFit(Seq(
      (Seq(1, 1), 20L), (Seq(1, 0), 5L), (Seq(0, 1), 5L), (Seq(0, 0), 70L)))
    assert(viaDf.lambda == viaHist.lambda)
    assert(viaDf.m.sameElements(viaHist.m) && viaDf.u.sameElements(viaHist.u))
  }

  test("posterior column matches driver-side bayes for every pattern; " +
    "null gamma defaults to disagreement (fit-consistent), " +
    "uninformative on request") {
    val p = FsParams(0.2, Array(0.9, 0.8), Array(0.1, 0.3))
    val df = Seq(
      (Some(1), Some(1)), (Some(1), Some(0)), (Some(0), Some(1)),
      (Some(0), Some(0)), (None: Option[Int], Some(1))
    ).toDF("g1", "g2")
    // default: null scores exactly like an explicit disagreement — the
    // same coercion agreementPatterns applies at fit time
    val defGot = df
      .withColumn("post", FellegiSunter.posterior(p, Seq("g1", "g2")))
      .collect().map(r => (r.get(0), r.get(1)) -> r.getDouble(2)).toMap
    assert(defGot((null, 1)) == defGot((0, 1)))
    val got = df.withColumn("post",
        FellegiSunter.posterior(p, Seq("g1", "g2"), nullAsDisagreement = false))
      .collect().map(r => (r.get(0), r.get(1)) -> r.getDouble(2)).toMap
    def expect(g: Seq[Option[Int]]): Double = {
      def pr(probs: Array[Double], prior: Double) =
        g.zipWithIndex.foldLeft(prior) { case (acc, (gi, i)) => acc * (gi match {
          case None => 1.0
          case Some(1) => probs(i)
          case _ => 1.0 - probs(i)
        })}
      val pm = pr(p.m, p.lambda); val pu = pr(p.u, 1.0 - p.lambda)
      pm / (pm + pu)
    }
    assert(got((1, 1)) == expect(Seq(Some(1), Some(1))))
    assert(got((0, 0)) == expect(Seq(Some(0), Some(0))))
    assert(got((null, 1)) == expect(Seq(None, Some(1))))
    // monotone sanity: full agreement outranks full disagreement
    assert(got((1, 1)) > got((0, 0)))
  }

  test("agree/disagree log2 weights have the classical signs") {
    val p = FsParams(0.2, Array(0.9), Array(0.1))
    assert(p.agreeWeight(0) > 0 && p.disagreeWeight(0) < 0)
  }

  test("valueFrequencies: relative frequencies over non-null values sum to 1") {
    val recs = Seq(Some("a"), Some("a"), Some("b"), None).toDF("v")
    val got = FellegiSunter.valueFrequencies(recs, "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 2.0 / 3.0, "b" -> 1.0 / 3.0))
  }

  test("tf adjustment: rare shared value outranks common; null tf and " +
    "empty map reduce to the plain posterior") {
    val p = FsParams(0.25, Array(0.9), Array(0.1))
    val df = Seq(
      ("rare", Some(1), Some(0.001)), ("common", Some(1), Some(0.2)),
      ("clampHi", Some(1), Some(2.0)), ("nullTf", Some(1), None: Option[Double]),
      ("disagree", Some(0), Some(0.001))
    ).toDF("tag", "g1", "tf")
    val out = df.select(col("tag"),
        FellegiSunter.posteriorTf(p, Seq("g1"), Map("g1" -> col("tf"))).as("tfp"),
        FellegiSunter.posterior(p, Seq("g1")).as("plain"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out("rare")._1 > out("common")._1)
    assert(out("common")._1 < out("common")._2) // f_v=0.2 > u=0.1 → posterior drops
    // clamp keeps a degenerate frequency inside (0,1)
    assert(out("clampHi")._1 > 0.0 && out("clampHi")._1 < 1.0)
    // null tf falls back to the global u — identical to plain posterior
    assert(out("nullTf")._1 == out("nullTf")._2)
    // disagreement branch is untouched by tf
    assert(out("disagree")._1 == out("disagree")._2)
  }

  test("UNSUPERVISED dedupe clears the north rule's F1>=0.99 bar: EM " +
    "weights (no labels) score the flagship candidate set at F1=1.0 on " +
    "the 500-base golden fixture") {
    // labels are used ONLY for judging — fit sees gammas alone.
    // (the since-removed tools.FsProbe main, kept in git history,
    // measured 1.0 / 1.0 / 0.999954 at 500/2000/10000.)
    import graft.gfunctions._
    import graft.model.PredicateSpec
    import graft.pipeline.{Dedupe, Eval}
    val (pages, truth) = graft.fixtures.PagesGen.generate(spark, nBase = 500, seed = 42L)
    val recs = Dedupe.prepare(pages.toDF())
    val blocks = graft.block.Blocking.blockingMap(recs, Seq(
      PredicateSpec("token", "text_norm"),
      PredicateSpec("simhash", "text", bands = 4)), "id")
    val pairs = graft.pairs.PairGen.candidatePairs(blocks, maxBlockSize = 500)
    val gcols = Seq("g_jw", "g_lev", "g_lang")
    val gammas = graft.pairs.PairGen
      .attachFields(pairs, recs, "id", Seq("text_norm", "lang"))
      .select(col("id1"), col("id2"),
        (jaro_winkler(col("text_norm_1"), col("text_norm_2")) >= 0.9)
          .cast("int").as("g_jw"),
        (levenshtein_sim(col("text_norm_1"), col("text_norm_2")) >= 0.75)
          .cast("int").as("g_lev"),
        (col("lang_1") === col("lang_2")).cast("int").as("g_lang"))
      .localCheckpoint()
    val params = FellegiSunter.fit(gammas, gcols)
    val scored = gammas.withColumn("score", FellegiSunter.posterior(params, gcols))
    val idTruth = recs.select(col("id"), col("url"))
      .join(truth.toDF(), "url")
      .select(col("id"), col("cluster_id").as("cluster"))
    val prf = Eval.pairwiseF1(scored.select("id1", "id2", "score"), idTruth, 0.5)
    assert(prf.f1 >= 0.99, s"unsupervised F1 ${prf.f1} (p=${prf.precision} r=${prf.recall})")
  }
}
