package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{median => _, _}
import graft.block.Blocking
import graft.cluster.{Canonicalize, ConnectedComponents}
import graft.model.{Model, PredicateSpec}
import graft.pairs.PairGen
import graft.pipeline.{Dedupe, Eval}
import graft.score.Scoring
import Main._

/**
 * Batch dedupe (`dedupe_dense`): a user uploads a table and waits for
 * `Dedupe.run` to write the entity map and the canonical table. The input
 * is 4000 seeded dense families (~10k rows); the run is the resumable,
 * metrics-on production path: `collectMetrics` on, a checkpoint dir set,
 * `maxBlockSize` 500. One operation is one such run; the traced form
 * replays the run's stage sequence through the public layer functions.
 */
object DedupeWorkload extends Workload {

  /** The labeled-fixture model: token + 4-band simhash blocking; JW, Lev
    * and exact-lang logistic scoring at θ = 0.5. */
  val model: Model = Model(
    bias = -13.0,
    weights = Map("jw_text_norm" -> 6.0, "lev_text_norm" -> 9.0, "exact_lang" -> 0.4),
    threshold = 0.5,
    predicates = Seq(PredicateSpec("token", "text_norm"),
      PredicateSpec("simhash", "text", bands = 4)))

  private val families = 4000
  private val maxBlockSize = 500
  /** The BASELINE gate. */
  private val minF1 = 0.99
  private val canonFields = Seq("url", "text_norm", "lang")

  private def config(ctx: Ctx) = Dedupe.Config(model, maxBlockSize = maxBlockSize,
    checkpointDir = Some(ctx.dir("ckpt")), collectMetrics = true, canonFields = canonFields)

  /** Counts the traced replay must reproduce exactly. */
  case class Counts(pairs: Long, edges: Long, entities: Long)

  /** The staged input: a parquet table, plus the truth as (id, cluster).
    * Set-up is the upload: the rows land as the input table, which is read
    * back through `Dedupe.prepare` (every derived column evaluated, into a
    * no-op sink) the way the upload is validated before the run. */
  private class Staged(ctx: Ctx) {
    import ctx.spark.implicits._
    val rows: Seq[Inputs.Labeled] = Inputs.dense(ctx.seed, families)
    val input: String = ctx.dir("input")
    val (_, setupS) = medianOf(setupRepeats) {
      ctx.spark.createDataset(rows.map(_.page)).toDF()
        .write.mode("overwrite").parquet(input)
      Dedupe.prepare(widen(pages)).write.format("noop").mode("overwrite").save()
    }
    val inputBytes: Long = dirBytes(new File(input))
    val truth: DataFrame = rows.map(l => (l.page.url, l.family)).toDF("url", "cluster")
      .select(xxhash64(col("url")).as("id"), col("cluster")).cache()
    def pages: DataFrame = ctx.spark.read.parquet(input)
  }

  private def scratchBytes(ctx: Ctx): Long =
    dirBytes(new File(ctx.dir("graft"))) + dirBytes(new File(ctx.dir("ckpt")))

  /** One Dedupe.run through its sinks. Returns the result (still readable:
    * its scratch is not reclaimed yet) and the wall time. */
  private def runOnce(ctx: Ctx, st: Staged): (Dedupe.Result, Double) = time {
    val res = Dedupe.run(ctx.spark, st.pages, config(ctx))
    res.entityMap.write.mode("overwrite").parquet(ctx.dir("sink/entities"))
    res.canon.write.mode("overwrite").parquet(ctx.dir("sink/canon"))
    res
  }

  private def reclaim(ctx: Ctx, res: Dedupe.Result): Unit = {
    Dedupe.cleanupScratch(ctx.spark, res)
    Seq("graft", "ckpt", "sink", "replay").foreach(d => delete(new File(ctx.dir(d))))
  }

  private def entities(ctx: Ctx) = ctx.spark.read.parquet(ctx.dir("sink/entities"))
  private def canon(ctx: Ctx) = ctx.spark.read.parquet(ctx.dir("sink/canon"))

  case class Checked(ok: Boolean, counts: Counts, f1: Double, accuracy: Double)

  /** The full output check of one run (before its scratch is reclaimed). */
  private def fullCheck(ctx: Ctx, st: Staged, res: Dedupe.Result): Checked = {
    val em = entities(ctx).cache()
    val n = st.rows.size.toLong
    val problems = Seq.newBuilder[String]
    val urlCounts = em.groupBy("url").count()
    val missing = st.pages.select("url").join(em.select("url"), Seq("url"), "left_anti").count()
    if (em.count() != n || urlCounts.filter(col("count") =!= 1).count() != 0 || missing != 0)
      problems += s"entity map does not hold every input url exactly once ($missing missing)"
    val nEntities = em.select("component").distinct().count()
    val cn = canon(ctx)
    if (cn.count() != nEntities || cn.select("component").distinct().count() != nEntities)
      problems += s"canon rows != one per entity ($nEntities entities)"
    val badLabel = em.groupBy("component").agg(min("id").as("m"))
      .filter(col("m") =!= col("component")).count()
    if (badLabel != 0) problems += s"$badLabel components not labeled by their min member id"
    val scored = res.scoredPairs.select("id1", "id2", "score")
    val f1 = Eval.pairwiseF1(scored, st.truth, model.threshold).f1
    if (f1 < minF1) problems += f"pairwise F1 $f1%.4f below $minF1"
    // a record is resolved exactly when its entity holds its whole family
    // and nothing else
    val j = em.select("id", "component").join(st.truth, "id")
    val pure = j.groupBy("component").agg(countDistinct("cluster").as("nf"))
    val whole = j.groupBy("cluster").agg(countDistinct("component").as("nc"))
    val exact = j.join(pure, "component").join(whole, "cluster")
      .filter(col("nf") === 1 && col("nc") === 1).count()
    val counts = Counts(scored.count(), scored.filter(col("score") >= model.threshold).count(),
      nEntities)
    val m = res.metrics
    if (Counts(m.candidatePairs, m.edgesAboveTheta, m.entities) != counts)
      problems += s"Dedupe.Metrics $m disagree with the outputs $counts"
    em.unpersist()
    val p = problems.result()
    p.foreach(msg => note(s"check failed: $msg"))
    Checked(p.isEmpty, counts, f1, exact.toDouble / n)
  }

  /** The cheap per-iteration check: same output sizes as the checked run. */
  private def quickCheck(ctx: Ctx, st: Staged, ref: Counts): Boolean = {
    val ok = entities(ctx).count() == st.rows.size && canon(ctx).count() == ref.entities
    if (!ok) note("check failed: output sizes differ from the fully checked run")
    ok
  }

  def timed(ctx: Ctx): Outcome = {
    val t0 = System.nanoTime()
    val st = new Staged(ctx)
    val t1 = System.nanoTime()
    // warm-up run: JIT and lazy set-up; its outputs get the full check
    val (res0, warmS) = runOnce(ctx, st)
    val t2 = System.nanoTime()
    val checked = fullCheck(ctx, st, res0)
    reclaim(ctx, res0)
    note(f"phases: staging ${(t1 - t0) / 1e9}%.1f s, warm-up $warmS%.1f s, check ${(System.nanoTime() - t2) / 1e9}%.1f s")
    val runs = loopFor(ctx.seconds, minOps = 2) { _ =>
      val (res, secs) = runOnce(ctx, st)
      val bytes = scratchBytes(ctx)
      val ok = quickCheck(ctx, st, checked.counts)
      reclaim(ctx, res)
      (secs, bytes, ok)
    }
    val secs = runs.map(_._1)
    val failed = runs.count(!_._3) + (if (checked.ok) 0 else 1)
    note(f"${runs.size} measured runs of ${st.rows.size} records; pairs=${checked.counts.pairs} " +
      f"edges=${checked.counts.edges} entities=${checked.counts.entities}; run times ${secs.map(s => f"$s%.2f").mkString(" ")} s")
    Outcome(failed == 0, runs.size + 1L, failed, Seq(
      Metric("setup_s", st.setupS, "s"),
      Metric("run_s", median(secs), "s"),
      Metric("records_per_s", st.rows.size * secs.size / secs.sum, "1/s"),
      // one upload is one request: on this workload the same figure as run_s
      Metric("request_p50_s", median(secs), "s"),
      Metric("pairwise_f1", checked.f1, "ratio"),
      Metric("match_accuracy", checked.accuracy, "ratio"),
      Metric("scratch_bytes_per_input_byte", median(runs.map(_._2.toDouble)) / st.inputBytes, "ratio")))
  }

  // ---- traced replay

  private def widen(df: DataFrame): DataFrame = {
    val width = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < width) df.repartition(width) else df
  }

  /** Per-partition row counts next to the resume point, as Dedupe.run
    * writes them when a checkpoint dir is set. */
  private def lineage(dir: String, stage: String, df: DataFrame): Unit =
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("n_rows")).withColumn("stage", lit(stage))
      .write.mode("overwrite").parquet(s"$dir/metrics/$stage")

  case class Replay(counts: Counts, extras: Seq[Metric])

  /** Dedupe.run's stage sequence, one span per layer, each layer's output
    * written to parquet and read back at full width. */
  private def replay(ctx: Ctx, st: Staged, tr: Tracer): Replay = {
    val spark = ctx.spark
    val out = ctx.dir("replay")
    val ckpt = ctx.dir("ckpt")
    def write(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$out/$name")
      widen(spark.read.parquet(s"$out/$name"))
    }
    val rowsOf = (df: DataFrame) => df.count()
    val prevCkpt = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(s"$ckpt/cc")
    try {
      val prepared = tr.span("pipeline.prepare") {
        val p0 = Dedupe.prepare(widen(st.pages))
        val repMap = p0.groupBy(col("text_hash")).agg(min(col("id")).as("rep"))
        val p = write(p0.join(repMap, "text_hash").drop("html"), "prepared")
        p.agg(count(lit(1)), countDistinct(col("rep"))).collect()
        p
      }(rowsOf)
      val reps = prepared.filter(col("id") === col("rep"))
      var blockM: PairGen.BlockMetrics = null
      val blocks = tr.span("block") {
        val b = write(Blocking.blockingMap(reps, model.predicates, "id"), "blocks")
        blockM = PairGen.blockMetrics(b, maxBlockSize)
        b
      }(rowsOf)
      val attached = tr.span("pairs") {
        val pairs = PairGen.candidatePairs(blocks, maxBlockSize)
        // every feature of the model compares one record field
        val fields = model.featureNames.map(_.dropWhile(_ != '_').drop(1)).distinct
        write(PairGen.attachFields(pairs, reps, "id", fields), "pairs")
      }(rowsOf)
      val scored = tr.span("score") {
        val s = Scoring.scorePairs(attached, model)
          .select(col("id1") +: col("id2") +: model.featureNames.map(col) :+ col("score"): _*)
        s.write.mode("overwrite").parquet(s"$ckpt/pairs")
        val back = spark.read.parquet(s"$ckpt/pairs")
        lineage(ckpt, "scored_pairs", back)
        widen(back)
      }(rowsOf)
      val edges = scored.filter(col("score") >= model.threshold).select("id1", "id2")
      var ccLabels: DataFrame = null
      val labels = tr.span("cluster.cc") {
        ccLabels = ConnectedComponents.run(edges).labels
        val repLabels = reps.select(col("id")).join(ccLabels, Seq("id"), "left")
          .select(col("id").as("rep"), coalesce(col("component"), col("id")).as("component"))
        val all = write(prepared.select("id", "rep").join(repLabels, "rep")
          .select("id", "component"), "labels")
        lineage(ckpt, "labels", all)
        scored.count(); edges.count()
        all.agg(countDistinct(col("component"))).collect()
        all
      }(rowsOf)
      tr.span("cluster.canon") {
        val conf = Canonicalize.confidences(labels, scored.select("id1", "id2", "score"))
        prepared.select("id", "url").join(conf, "id")
          .select("id", "url", "component", "confidence")
          .write.mode("overwrite").parquet(s"$out/sink/entities")
        Canonicalize.canonTable(prepared.select(col("id") +: canonFields.map(col): _*)
          .join(labels, "id"), "component", canonFields)
          .write.mode("overwrite").parquet(s"$out/sink/canon")
      }(_ => spark.read.parquet(s"$out/sink/entities").count())

      // layer-specific counts, taken outside every span
      val census = blocks.groupBy("block_key").agg(count(lit(1)).as("n"))
      val emitted = census.filter(col("n") >= 2 && col("n") <= maxBlockSize)
        .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0L))).collect()(0).get(0)
        .toString.toDouble
      val unique = attached.count()
      val nEdges = edges.count()
      val sizes = labels.groupBy("component").count()
      val nEntities = sizes.count()
      val largest = sizes.agg(max("count")).collect()(0).getLong(0)
      val components = ccLabels.select("component").distinct().count()
      Replay(Counts(unique, nEdges, nEntities), Seq(
        Metric("block.keys", blockM.totalKeys.toDouble, "count"),
        Metric("block.plural_keys", blockM.pluralKeys.toDouble, "count"),
        Metric("block.capped_keys", blockM.cappedKeys.toDouble, "count"),
        Metric("block.max_size", blockM.maxBlockSize.toDouble, "count"),
        Metric("pairs.emitted", emitted, "count"),
        Metric("pairs.unique", unique.toDouble, "count"),
        Metric("pairs.redundancy", if (unique > 0) emitted / unique else 0.0, "ratio"),
        Metric("score.edges", nEdges.toDouble, "count"),
        Metric("score.edge_yield", if (unique > 0) nEdges.toDouble / unique else 0.0, "ratio"),
        Metric("cluster.cc.components", components.toDouble, "count"),
        Metric("cluster.cc.largest", largest.toDouble, "count")))
    } finally spark.sparkContext.setCheckpointDir(prevCkpt.orNull)
  }

  def traced(ctx: Ctx): Outcome = {
    val st = new Staged(ctx)
    val (res0, _) = runOnce(ctx, st)
    val checked = fullCheck(ctx, st, res0)
    reclaim(ctx, res0)
    val tr = new Tracer(ctx.spark)
    val iters = loopFor(ctx.seconds) { _ =>
      val (res, untraced) = runOnce(ctx, st)
      reclaim(ctx, res)
      val rp = replay(ctx, st, tr)
      val spans = tr.take()
      reclaim(ctx, res)
      val ok = rp.counts == checked.counts
      if (!ok) note(s"check failed: replay counts ${rp.counts} != run counts ${checked.counts}")
      (spans, rp, untraced, ok)
    }
    tr.close()
    note(s"${iters.size} traced replays; run counts ${checked.counts}")
    val overhead = median(iters.map(i => i._1.map(_._2.wallNs).sum / 1e9 - i._3))
    val extras = iters.head._2.extras ++ MatchWorkload.zeroExtras :+
      Metric("trace.overhead_s", overhead, "s")
    val failed = iters.count(!_._4) + (if (checked.ok) 0 else 1)
    layerOutcome(ctx, iters.map(_._1), extras, iters.size + 1L, failed)
  }

  /** The dedupe-only per-layer extras, zero on match workloads. */
  val zeroExtras: Seq[Metric] = Seq("block.keys", "block.plural_keys", "block.capped_keys",
    "block.max_size", "pairs.emitted", "pairs.unique", "pairs.redundancy", "score.edges",
    "score.edge_yield", "cluster.cc.components", "cluster.cc.largest").map { n =>
    Metric(n, 0.0, if (n.endsWith("redundancy") || n.endsWith("yield")) "ratio" else "count")
  }
}
