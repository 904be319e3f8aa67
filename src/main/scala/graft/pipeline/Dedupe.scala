package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gfunctions._
import graft.block.Blocking
import graft.cluster.{Canonicalize, ConnectedComponents}
import graft.io.Snapshot
import graft.model.Model
import graft.pairs.PairGen
import graft.score.Scoring

/**
 * The flagship pipeline — the reference's upload→dedupe session flow
 * (`dedupe-api:api/utils/delayed_tasks.py†`, SURVEY.md §3.1) as ONE Spark
 * job graph; Redis queue hops become stage boundaries, Postgres tables
 * become columnar checkpoints.
 *
 * Scale decisions, in order of appearance:
 *  1. exact-duplicate pre-grouping (G1): crawl corpora are full of
 *     byte-identical pages; grouping by xxhash64(text) FIRST shrinks every
 *     downstream stage. Only group representatives are blocked/scored;
 *     members inherit the rep's entity at the end.
 *  2. blocking is narrow (explode) — the heavy shuffle is the block
 *     self-join, bounded by the plural-filter + block-size cap (PairGen).
 *  3. scoring is flat-column Catalyst arithmetic — one codegen span.
 *  4. scored pairs are the resume point: persisted to parquet when a
 *     checkpoint dir is configured (BASELINE.json:6 resumability).
 *  5. clustering = thresholded edges → connected components: one
 *     single-task union-find (round count replayed in-task) up to 2 M
 *     edges, checkpointed large/small-star rounds above.
 *
 * The `text` column is never rewritten — derived columns only
 * (byte-identity invariant, BASELINE.json:6,15).
 */
object Dedupe {

  case class Config(
      model: Model,
      maxBlockSize: Int = 200,
      checkpointDir: Option[String] = None,
      canonFields: Seq[String] = Seq("url", "text_norm", "lang"),
      // metrics cost extra aggregate jobs (block census, record, pair,
      // edge and entity counts); the CC round count comes either way
      collectMetrics: Boolean = true)

  case class Result(
      entityMap: DataFrame, // (id, url, component, confidence)
      canon: DataFrame, // one canonical row per entity
      scoredPairs: DataFrame, // (id1, id2, <features>, score)
      metrics: Metrics,
      // the run's ephemeral scratch dir, when snapshots were taken — the
      // output frames read from it lazily; reclaim with cleanupScratch
      // AFTER persisting/consuming them
      scratchDir: Option[String] = None)

  case class Metrics(
      records: Long,
      exactGroups: Long,
      blockKeys: Long,
      pluralKeys: Long,
      cappedKeys: Long,
      candidatePairs: Long,
      edgesAboveTheta: Long,
      entities: Long,
      ccIterations: Int)

  /**
   * The bounded-census exclusive-prefix recipe shared by the
   * distributed prefix-sum operators (TextOps.packShards,
   * SortedNeighborhood.withGlobalRank): aggregate one `weight` per
   * bucket plus caller validation aggregates, collect it (bounded — one
   * row per bucket), and return broadcastable exclusive offsets
   * `(bucket, boff)` in bucket order together with the raw census rows
   * (layout: bucket, weight, validations...) for caller-side checks.
   * A null weight (empty/all-null group) contributes 0.
   */
  private[graft] def exclusiveBucketOffsets(df: DataFrame, bucketCol: String,
      weight: Column, validations: Seq[Column] = Nil)
      : (DataFrame, Array[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val census = df.groupBy(col(bucketCol))
      .agg(weight.cast("long").as("_w"), validations: _*)
      .orderBy(col(bucketCol)).collect()
    var acc = 0L
    val rows: Array[Row] = census.map { r =>
      val o = Row(r.get(0), acc)
      acc += (if (r.isNullAt(1)) 0L else r.getLong(1))
      o
    }
    val schema = StructType(Seq(
      df.schema(bucketCol).copy(name = bucketCol),
      StructField("boff", LongType, nullable = false)))
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), census)
  }

  /**
   * Delete every scratch snapshot the library operators (minhash/simhash/
   * span dedup, packShards, dedupeAgainstCorpus without the hash-col
   * seams, ...) have taken so far in this JVM, and unpersist their
   * no-scratch fallbacks ([[graft.io.Snapshot.library]]). deleteOnExit
   * only reclaims at exit, so a long-lived driver (service, streaming
   * job, repeated Bench rounds) calling these operators repeatedly leaks
   * an input-sized dir per call until it invokes this between logical
   * runs — ONLY when no DataFrame returned by those operators is still
   * to be consumed (they read from these paths lazily). The pool is
   * JVM-global: a driver interleaving CONCURRENT logical runs must not
   * call this mid-flight (it would delete the other run's live
   * snapshots) — serialize reclamation, or use the per-run
   * `cleanupScratch(Result)` handle for pipeline runs.
   */
  def reclaimLibraryScratch(spark: SparkSession): Unit = Snapshot.library.reclaim()

  /**
   * Delete a run's ephemeral scratch directory (`Result.scratchDir`).
   * The Result's DataFrames read FROM this directory lazily, so call it
   * only after the outputs are persisted or fully consumed. Long-lived
   * drivers (services, streaming jobs invoking `run` repeatedly) need
   * this — the deleteOnExit fallback only reclaims space at JVM exit.
   */
  def cleanupScratch(spark: SparkSession, result: Result): Unit =
    result.scratchDir.foreach(Snapshot.delete(spark, _))

  /**
   * Per-partition lineage metrics (S5; BASELINE.json:14 "per-partition
   * lineage and scoring metrics persisted alongside"): one (stage,
   * partition_id, n_rows) row per partition of the stage's output,
   * persisted next to the checkpoint so an operator can audit exactly
   * which partitions a resumed run re-reads.
   */
  private[graft] def writeLineage(dir: String, stage: String, df: DataFrame): Unit =
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("stage", lit(stage))
      .write.mode("overwrite").parquet(s"$dir/metrics/$stage")

  /**
   * Resume from the scored-pairs snapshot (the resumability contract,
   * BASELINE.json:6,14): skips prepare/block/score entirely and re-enters
   * at the threshold+CC stage using `$checkpointDir/pairs` written by a
   * previous (possibly interrupted) run. Clustering output is identical to
   * a fresh run because everything downstream of the snapshot is a pure
   * function of it plus the (deterministic) prepared pages.
   */
  def resumeFromPairs(spark: SparkSession, pages: DataFrame, config: Config): Result = {
    val dir = config.checkpointDir.getOrElse(
      throw new IllegalArgumentException("resume requires checkpointDir"))
    // Hadoop FileSystem, not java.io.File: the checkpoint dir is an
    // hdfs:///s3a:// path in production — a local-FS check would always
    // fail there even when the snapshot exists.
    val pairsPath = new org.apache.hadoop.fs.Path(s"$dir/pairs")
    val fs = pairsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(pairsPath), s"no pairs snapshot at $dir/pairs")
    runInternal(spark, pages, config,
      Some(Snapshot.widen(spark.read.parquet(s"$dir/pairs"))))
  }

  /** Derived columns over the north-rule pages schema
    * (url, warc_ts, html, text, lang — BASELINE.json:15). Null-url rows
    * are dropped: the record identity is id = xxhash64(url), and Spark's
    * xxhash64 maps every null input to the same seed value, so distinct
    * malformed rows would silently collide into one record (observed on
    * the incremental-streaming collapse, which keeps one row per id). */
  def prepare(pages: DataFrame): DataFrame = pages
    .filter(col("url").isNotNull)
    .withColumn("id", xxhash64(col("url")))
    .withColumn("text_norm", normalize_text(col("text")))
    .withColumn("norm_url_path",
      normalize_text(regexp_replace(col("url"), "^[a-z]+://[^/]*", "")))
    .withColumn("text_hash", xxhash64(col("text")))

  /** Record columns each feature needs on the pair (column pruning, J5). */
  private[graft] def requiredFields(features: Seq[String]): Seq[String] =
    features.flatMap {
      case n if n.startsWith("cosine_tfidf_") =>
        Seq(n.stripPrefix("cosine_tfidf_") + "_tfidf")
      case n if n.startsWith("haversine_") =>
        val f = n.stripPrefix("haversine_"); Seq(s"${f}_lat", s"${f}_lon")
      case n if n.startsWith("inter_") =>
        // C7: union of both sub-features. A sub-name can itself contain
        // "__" (cat_ dummies), so pick the first "__" split where both
        // sides carry a known feature prefix (mirrors Scoring's resolver)
        val body = n.stripPrefix("inter_")
        val idxs = "__".r.findAllMatchIn(body).map(_.start).toSeq
        val prefixes = graft.score.Scoring.featurePrefixes
        val at = idxs.find { i =>
          prefixes.exists(body.substring(0, i).startsWith) &&
            prefixes.exists(body.substring(i + 2).startsWith)
        }.getOrElse(idxs.headOption.getOrElse(
          throw new IllegalArgumentException(s"interaction needs two features: $n")))
        requiredFields(Seq(body.substring(0, at), body.substring(at + 2)))
      case n if n.startsWith("cat_") => // C6: cat_<field>__<x>__<y>
        Seq(n.stripPrefix("cat_").split("__", 3)(0))
      case n =>
        Seq(n.dropWhile(_ != '_').drop(1))
    }.distinct

  def run(spark: SparkSession, pages: DataFrame, config: Config): Result =
    runInternal(spark, pages, config, None)

  private def runInternal(spark: SparkSession, pages: DataFrame, config: Config,
      resumeScored: Option[DataFrame]): Result = {
    // the checkpoint dir is SparkContext-global state: restore it after
    // the run (every CC iteration inside run() is eager, so nothing reads
    // the dir lazily afterwards) — without this, one checkpointed run
    // silently switched every LATER CC in the same context from
    // localCheckpoint to reliable disk checkpoints under this run's dir
    val prevCkptDir = spark.sparkContext.getCheckpointDir
    config.checkpointDir.foreach(d =>
      spark.sparkContext.setCheckpointDir(s"$d/cc"))
    try runBody(spark, pages, config, resumeScored)
    finally if (config.checkpointDir.isDefined)
      spark.sparkContext.setCheckpointDir(prevCkptDir.orNull)
  }

  private def runBody(spark: SparkSession, pages: DataFrame, config: Config,
      resumeScored: Option[DataFrame]): Result = {
    val model = config.model
    // a run's snapshots share ONE directory, under the checkpoint dir when
    // one is set (a cluster run with Config.checkpointDir needs no extra
    // scratch conf); the caller reclaims it via cleanupScratch — a service
    // calling run() per request would otherwise accumulate input-sized
    // scratch for the JVM's lifetime
    val scratch = new Snapshot.Run(config.checkpointDir.map(d => s"$d/scratch"))

    // ---- stage 1: prepare + exact pre-group (G1)
    // Scan-parallelism floor: the per-row prepare/blocking work (NFKC,
    // tokenize, simhash) is CPU-heavy, and a small or single-row-group
    // input yields 1-2 scan partitions — the whole narrow chain then runs
    // on 1-2 threads regardless of cores (measured: 19 s single-threaded
    // blocking over 10k pages that takes <1 s spread across 32). One cheap
    // up-front shuffle of the raw pages fixes it; skipped when the scan is
    // already wide (the 100 TB case — thousands of file splits).
    val width = spark.sparkContext.defaultParallelism
    val pagesPar =
      if (pages.rdd.getNumPartitions < width) pages.repartition(width) else pages
    val prepared0 = prepare(pagesPar)
    // Exact-group rep (G1) is assigned INSIDE the prepared frame: the
    // groupBy branch is column-pruned to (id, text_hash) — two xxhash64
    // over the raw scan, no normalize — and map-side combine keeps a
    // boilerplate text shared by millions of pages skew-safe (one partial
    // row per key per mapper, unlike a window over text_hash which would
    // buffer the whole family in one task). After the join, reps and the
    // id→rep map are FILTERS/PROJECTIONS of one frame, not repeated
    // groupBy+join chains.
    val repMap = prepared0
      .groupBy(col("text_hash"))
      .agg(min(col("id")).as("rep"))
    val withRep = prepared0.join(repMap, "text_hash")
    // html is raw payload no operator consumes — keep it out of the
    // snapshot unless the model/canon config references it explicitly
    def predFields(ps: Seq[graft.model.PredicateSpec]): Seq[String] =
      ps.flatMap(p => p.field +: predFields(p.sub)) // compound sub-predicates too
    val htmlNeeded = config.canonFields.contains("html") ||
      predFields(model.predicates).contains("html") ||
      requiredFields(model.featureNames).contains("html")
    // materialize the prepared frame once (the reference's processed_{sid}
    // Postgres table†): blocking, field-attach, exact-group maps, entity
    // map and canon are INDEPENDENT actions — without the snapshot each
    // re-executes the scan → normalize chain and the exact-group shuffle
    // repeats. One write of ~input size buys 3-4 full re-scans back.
    val prepared = Snapshot(if (htmlNeeded) withRep else withRep.drop("html"),
      "prepared", scratch, widen = true)

    val idToRep = prepared.select(col("id"), col("rep"))
    val reps0 = prepared.filter(col("id") === col("rep"))
    // EVERY distinct cosine_tfidf field gets its vector column (a model
    // with TF-IDF on two fields previously failed analysis — only the
    // first field's <f>_tfidf column was built). Corpus stats are computed
    // over the deduped representatives — the frame that is scored — and
    // the vectors are snapshotted, because withTfidfVectors shuffles
    // (document-frequency agg) and reps feeds three independent consumers
    // (blocking, attach, labels).
    val tfidfFields = model.featureNames
      .filter(_.startsWith("cosine_tfidf_"))
      .map(_.stripPrefix("cosine_tfidf_")).distinct
    val repsTf = tfidfFields.foldLeft(reps0) { (df, f) =>
      Scoring.withTfidfVectors(df, f, "id")
    }
    val reps =
      if (tfidfFields.isEmpty) repsTf
      else Snapshot(repsTf, "reps_tfidf", scratch, widen = true)

    // ---- stages 2+3 (skipped entirely on resume): blocking (narrow) +
    // pair-gen (the shuffle) + attach fields + score (one codegen span)
    var blockM = PairGen.BlockMetrics(-1, -1, -1, -1, -1)
    val scored = resumeScored match {
      case Some(snapshot) => snapshot
      case None =>
        // snapshot: the blocking map feeds the size census AND both legs
        // of the grid self-join — three evaluations that would each re-run
        // NFKC + tokenize + simhash over every record. The reference
        // materializes its block table the same way (Postgres block_{sid}
        // table†); here it's a snapshot of narrow (id, key) rows.
        val blocks = Snapshot(Blocking.blockingMap(reps, model.predicates, "id"),
          "blocks", scratch, widen = true)
        if (config.collectMetrics)
          blockM = PairGen.blockMetrics(blocks, config.maxBlockSize)
        val pairs = PairGen.candidatePairs(blocks, config.maxBlockSize)
        val fields = requiredFields(model.featureNames)
        val attached = PairGen.attachFields(pairs, reps, "id", fields)
        // project the attached record fields away BEFORE the snapshot:
        // scorePairs carries its input columns through, so the resume
        // point / scored snapshot used to persist BOTH sides' multi-KB
        // text fields per pair — pair-count × page-size write
        // amplification (the dominant cost of the small-corpus pipeline
        // runs, and at crawl scale a payload-through-the-sink violation
        // of the shuffle-metadata-not-bytes rule). Every consumer
        // (threshold edges, CC, confidences, resume, eval) reads only
        // (id1, id2, features, score) — the documented Result contract.
        val scored0 = Scoring.scorePairs(attached, model)
          .select(col("id1") +: col("id2") +:
            model.featureNames.map(col) :+ col("score"): _*)
        config.checkpointDir match {
          case Some(dir) => // resume point (BASELINE.json:6)
            scored0.write.mode("overwrite").parquet(s"$dir/pairs")
            val pairs = spark.read.parquet(s"$dir/pairs")
            // S5: per-partition lineage of the resume point, persisted
            // alongside it (cheap: one columnar count over the snapshot)
            writeLineage(dir, "scored_pairs", pairs)
            Snapshot.widen(pairs)
          case None =>
            // scored pairs feed TWO downstream consumers (CC edges +
            // per-record confidences); without a snapshot the whole
            // block+join+score DAG would re-execute per consumer.
            Snapshot(scored0, "scored_snap", scratch, widen = true)
        }
    }

    // ---- stage 4: threshold + transitive closure (G2)
    val edges = scored.filter(col("score") >= model.threshold)
      .select(col("id1"), col("id2"))
    val cc = ConnectedComponents.run(edges)
    val repLabels = reps.select(col("id"))
      .join(cc.labels, Seq("id"), "left")
      .select(col("id").as("rep"),
        coalesce(col("component"), col("id")).as("component"))

    // ---- stage 5: expand exact groups, confidence, canon
    // narrow (id, component) snapshot: confidences, the entity map, canon
    // and the entity count are independent actions — each would re-run the
    // expand join (and the CC labeling task behind it) otherwise
    val allLabels = Snapshot(idToRep.join(repLabels, "rep")
      .select(col("id"), col("component")), "labels", scratch, widen = true)
    // S5: lineage of the clustering output too (CC checkpoints go under
    // $dir/cc; this records what the final labels looked like)
    config.checkpointDir.foreach(dir => writeLineage(dir, "labels", allLabels))
    val conf = Canonicalize.confidences(
      allLabels, scored.select(col("id1"), col("id2"), col("score")))
    val entityMap = prepared.select(col("id"), col("url"))
      .join(conf, "id")
      .select(col("id"), col("url"), col("component"), col("confidence"))
    val canon = Canonicalize.canonTable(
      prepared.select(col("id") +: config.canonFields.map(col): _*)
        .join(allLabels, "id"),
      "component", config.canonFields)

    val m = if (config.collectMetrics) {
      // records + exactGroups in ONE job over the prepared snapshot
      // (round-6; was two), and candidatePairs counted off the scored
      // snapshot — scorePairs is row-preserving over the attached pairs,
      // so the count is identical and the grid-expansion DAG no longer
      // re-executes just to be counted (same values, fewer jobs)
      val prepRow = prepared.agg(count(lit(1)),
        countDistinct(col("rep"))).collect()(0)
      Metrics(
        records = prepRow.getLong(0),
        exactGroups = prepRow.getLong(1),
        blockKeys = blockM.totalKeys,
        pluralKeys = blockM.pluralKeys,
        cappedKeys = blockM.cappedKeys,
        candidatePairs = scored.count(),
        edgesAboveTheta = edges.count(),
        entities = allLabels.agg(countDistinct(col("component"))).collect()(0).getLong(0),
        ccIterations = cc.iterations)
    } else Metrics(-1, -1, -1, -1, -1, -1, -1, -1, cc.iterations)

    // scoring metrics persisted alongside the checkpoint (BASELINE.json:14
    // "per-partition lineage AND scoring metrics"): one-row parquet with
    // the stage counts, next to the lineage tables above
    if (config.collectMetrics) config.checkpointDir.foreach { dir =>
      import spark.implicits._
      Seq(m).toDF().write.mode("overwrite").parquet(s"$dir/metrics/run")
    }

    Result(entityMap, canon, scored, m, scratch.dir)
  }
}
