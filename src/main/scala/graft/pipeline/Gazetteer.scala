package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.block.Blocking
import graft.io.Snapshot
import graft.model.Model
import graft.pairs.PairGen
import graft.score.Scoring

/**
 * Gazetteer matching — the reference's `POST /match` endpoint
 * (`dedupe:api (class StaticGazetteer)†` served by
 * `dedupe-api:api/app.py (route /match)†`; SURVEY.md §2.4 J4, §2.6 G8,
 * §3.2): link messy records against a canonical index.
 *
 * One code path for single-record and bulk match: messy records derive
 * the same blocking keys as the canon index; the join BROADCASTS the canon
 * block index when it fits (a canon table is orders of magnitude smaller
 * than the messy stream at crawl scale — broadcast kills the shuffle);
 * score with the same model; per-messy-record top-n via window rank.
 */
object Gazetteer {

  case class Config(model: Model, nMatches: Int = 3, broadcastCanon: Boolean = true,
      // canon blocks larger than this are dropped from the index — the
      // reference's gazetteer oversize-block behavior† (a key shared by
      // thousands of canon rows has no discriminating power and its join
      // fan-out is messy×canon quadratic)
      maxCanonBlockSize: Int = 1000)

  /**
   * Prepared canonical index: block map (oversize keys dropped) + scoring
   * fields. Build ONCE per canon table; reuse across every match call —
   * a streaming job matching micro-batches must not re-derive the index
   * (and its oversize-filter groupBy) per batch.
   */
  case class CanonIndex(blocks: DataFrame, fields: DataFrame, config: Config)

  /** @param canon prepared canonical records (id + derived scoring fields).
    * @param persist cache the index frames (the reuse-across-batches
    *   path — call `unpersist()` on both when done); one-shot callers
    *   pass false so nothing leaks into the block-manager
    */
  def buildCanonIndex(canon: DataFrame, config: Config,
      persist: Boolean = true): CanonIndex = {
    val model = config.model
    val canonBlocksAll = Blocking.blockingMap(canon, model.predicates, "id")
      .withColumnRenamed("id", "canon_id")
    // drop oversized canon blocks (reference gazetteer behavior†): without
    // this, one hot key fans out messy×canon quadratically
    val eligible = canonBlocksAll.groupBy("block_key").count()
      .filter(col("count") <= config.maxCanonBlockSize)
      .select("block_key")
    val blocks0 = canonBlocksAll.join(eligible, "block_key")
    val blocks = if (persist) blocks0.persist() else blocks0
    val flds = Dedupe.requiredFields(model.featureNames)
    val fields0 = canon
      .select(col("id").as("id2") +: flds.map(f => col(f).as(s"${f}_2")): _*)
    val fields = if (persist) fields0.persist() else fields0
    CanonIndex(blocks, fields, config)
  }

  /**
   * Extend a prebuilt index with newly-founded canonical records (the
   * incremental-dedupe path): the increment's block map and field table
   * are built (and persisted) on their own and UNIONed in — the existing
   * cached frames are untouched, so per-batch extension costs only the
   * increment. Known approximation, documented: the oversize-block filter
   * runs per increment, so a key could creep past maxCanonBlockSize
   * across many increments — run a periodic compaction (rebuild the index
   * from the accumulated canon table) to restore the exact bound.
   */
  def extendIndex(index: CanonIndex, newCanon: DataFrame): CanonIndex = {
    // id-dedupe against the existing index: a re-crawled url whose text
    // changed re-arrives with the SAME id (xxhash64(url)) but different
    // blocks/fields — adding it again would give one canon_id two
    // conflicting field rows (duplicate scored rows per pair, rank-list
    // crowding). First write wins; a compaction rebuild refreshes fields.
    val fresh = newCanon.join(
      index.fields.select(col("id2").as("id")), Seq("id"), "left_anti")
    val inc = buildCanonIndex(fresh, index.config)
    CanonIndex(index.blocks.union(inc.blocks),
      index.fields.union(inc.fields), index.config)
  }

  /** Match messy records against a prebuilt canon index. */
  def matchAgainst(messy: DataFrame, index: CanonIndex): DataFrame = {
    val config = index.config
    val model = config.model
    val messyBlocks = Blocking.blockingMap(messy, model.predicates, "id")
      .withColumnRenamed("id", "messy_id")
    val canonBlocks =
      if (config.broadcastCanon) broadcast(index.blocks) else index.blocks

    val pairs = messyBlocks.join(canonBlocks, "block_key")
      .select(col("messy_id").as("id1"), col("canon_id").as("id2"))
      .dropDuplicates("id1", "id2")

    val fields = Dedupe.requiredFields(model.featureNames)
    val m = messy.select(col("id").as("id1") +: fields.map(f => col(f).as(s"${f}_1")): _*)
    val attached = pairs.join(m, "id1")
      .join(if (config.broadcastCanon) broadcast(index.fields) else index.fields, "id2")
    val scored = Scoring.scorePairs(attached, model)
      .filter(col("score") >= model.threshold)

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id1")).orderBy(col("score").desc, col("id2"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= config.nMatches)
      .select(col("id1").as("messy_id"), col("id2").as("canon_id"),
        col("score"), col("rank").cast("long").as("rank"))
  }

  /**
   * One-shot convenience: build the index and match in one call.
   * @param messy prepared messy records (id + derived scoring fields)
   * @param canon prepared canonical records (id + same derived fields)
   * @return (messy_id, canon_id, score, rank) — top-n per messy record
   *         above the model threshold
   */
  def matchRecords(spark: SparkSession, messy: DataFrame, canon: DataFrame,
      config: Config): DataFrame =
    matchAgainst(messy, buildCanonIndex(canon, config, persist = false))

  /**
   * Second-stage dedupe (`dedupe-api (fn dedupeCanon)†`, SURVEY.md §2.6
   * G6): re-run the whole pipeline over canonical representatives and remap
   * first-pass entities through the second-pass components — merges
   * entities that first-pass blocking kept apart.
   *
   * @param firstEntityMap first-pass (id, component)
   * @param canon canon table from Dedupe.run (component + text_norm + lang)
   * @return (id, component) with merged entity ids (min first-pass
   *         component per merged group — stable, deterministic)
   */
  def dedupeCanon(spark: SparkSession, firstEntityMap: DataFrame,
      canon: DataFrame, config: Dedupe.Config,
      // reclaim the inner pipeline run's scratch before returning: the
      // result is eagerly truncated (localCheckpoint) first, so it no
      // longer reads from scratch. Long-lived drivers (the streaming
      // compaction path) must pass true or each compaction leaks an
      // input-sized scratch dir until JVM exit; one-shot callers keep the
      // default and let deleteOnExit reclaim at exit.
      reclaimScratch: Boolean = false): DataFrame = {
    // canon rows re-enter the pipeline in pages shape; the synthetic url
    // encodes the first-pass component for the remap join afterwards.
    // SNAPSHOT the canon frame first: it is the output of the first pass's
    // canonTable (a mapGroups medoid over the whole first-pass DAG) and the
    // second pipeline run consumes it from MANY actions (scored-pairs
    // write, CC iterations' lineage, the final remap join) — without the
    // snapshot the entire first pass re-executed per consumer (measured:
    // the 185 s q_dedupe_canon anomaly, round-2 verdict item 4).
    // scratch lands under the checkpoint dir when one is set, so a cluster
    // run configured only with Config.checkpointDir works here too
    val scratch = new Snapshot.Run(config.checkpointDir.map(d => s"$d/scratch"))
    val canonPages = Snapshot(canon.select(
        concat(lit("canon://"), col("component")).as("url"),
        lit(null).cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"),
        col("text_norm").as("text"),
        col("lang")), "canon_pages", scratch)
    // the inner run gets a DERIVED checkpoint dir: with the caller's dir
    // unmodified it would overwrite $dir/pairs (the FIRST pass's resume
    // snapshot — a later resumeFromPairs would silently resume from
    // canon-page pairs and produce a garbage entity map) and the S5
    // lineage/metrics artifacts describing the main run
    val second = Dedupe.run(spark, canonPages, config.copy(
      checkpointDir = config.checkpointDir.map(d => s"$d/canon_stage2")))
    val remap = second.entityMap.select(
      regexp_extract(col("url"), "canon://(-?\\d+)", 1).cast("long").as("first_component"),
      col("component").as("second_component"))
    val merged = remap.groupBy("second_component")
      .agg(min("first_component").as("merged"))
    val mapTbl = remap.join(merged, "second_component")
      .select(col("first_component"), col("merged"))
    val out = firstEntityMap.join(broadcast(mapTbl),
        firstEntityMap("component") === mapTbl("first_component"), "left")
      .select(firstEntityMap("id"),
        coalesce(col("merged"), firstEntityMap("component")).as("component"))
    if (!reclaimScratch) out
    else {
      // entity-count-sized frame; eager truncation so nothing below reads
      // from the scratch we are about to delete
      val truncated = out.localCheckpoint(true)
      Dedupe.cleanupScratch(spark, second)
      scratch.reclaim()
      truncated
    }
  }
}
