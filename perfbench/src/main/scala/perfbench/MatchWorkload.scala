package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{median => _, _}
import graft.block.Blocking
import graft.pipeline.{Dedupe, Gazetteer}
import Main._

/**
 * dedupe-api's `/match` with ingest (`match_ingest`): one client in a
 * closed loop sends requests of prepared records to a canon index built
 * once in set-up; each request's unmatched records found new entities
 * through `Gazetteer.extendIndex` before the next request is sent (the
 * per-batch step of the incremental dedupe stream). One operation is a
 * session of the whole request stream, starting from the base index.
 */
object MatchWorkload extends Workload {

  private val nFamilies = 5000
  private val nRequests = 4
  private val perRequest = 20

  private val config = Gazetteer.Config(DedupeWorkload.model, nMatches = 3)

  private class Staged(ctx: Ctx) {
    val spark = ctx.spark
    import spark.implicits._
    val stream: Inputs.MatchStream =
      Inputs.matchStream(ctx.seed, nFamilies, nRequests, perRequest)
    val input: String = ctx.dir("canon_pages")
    spark.createDataset(stream.index.map(_.page)).toDF()
      .write.mode("overwrite").parquet(input)
    val inputBytes: Long = dirBytes(new File(input))
    /** Prepared request frames, cached: the client's payloads. */
    val requests: Seq[DataFrame] = stream.requests.map { r =>
      val df = Dedupe.prepare(spark.createDataset(r.map(_.page)).toDF()).drop("html")
        .coalesce(1).cache()
      df.count()
      df
    }
    private val urlToId: Map[String, Long] = (requests :+ spark.read.parquet(input)
      .select(xxhash64(col("url")).as("id"), col("url")))
      .flatMap(_.select("url", "id").collect().map(r => r.getString(0) -> r.getLong(1)))
      .toMap
    def id(l: Inputs.Labeled): Long = urlToId(l.page.url)
    val baseId: Map[Long, Long] = stream.index.map(l => l.family -> id(l)).toMap

    def prepared: DataFrame = Dedupe.prepare(spark.read.parquet(input)).drop("html")

    def buildIndex(from: DataFrame): Gazetteer.CanonIndex = {
      val idx = Gazetteer.buildCanonIndex(from, config)
      force(idx)
      idx
    }
  }

  private def force(idx: Gazetteer.CanonIndex): Long = {
    idx.blocks.count(); idx.fields.count()
  }

  private def unpersist(idx: Gazetteer.CanonIndex): Unit = {
    idx.blocks.unpersist(); idx.fields.unpersist()
  }

  /** One request: match, collect the rank-1 answers, and extend the
    * index with the records nothing matched. `span` wraps the two
    * layer calls; the timed loop passes the identity. */
  private def request(st: Staged, r: Int, index: Gazetteer.CanonIndex,
      span: String => (=> Any) => Any): (Map[Long, Long], Gazetteer.CanonIndex) = {
    var answers: Map[Long, Long] = null
    span("gazetteer.match") {
      answers = Gazetteer.matchAgainst(st.requests(r), index)
        .filter(col("rank") === 1).select("messy_id", "canon_id").collect()
        .map(row => row.getLong(0) -> row.getLong(1)).toMap
    }
    var next = index
    val unmatched = st.stream.requests(r).map(st.id).filterNot(answers.contains)
    if (unmatched.nonEmpty) span("gazetteer.extend") {
      next = Gazetteer.extendIndex(index,
        st.requests(r).filter(col("id").isin(unmatched: _*)))
      force(next)
    }
    (answers, next)
  }

  private val untraced: String => (=> Any) => Any = _ => f => f

  /** Expected rank-1 answer per record of the stream: an indexed family's
    * base page; for an absent family nothing on first sight, and on later
    * sights the record that founded it. */
  private def expected(st: Staged): Seq[Seq[(Long, Option[Long])]] = {
    val founder = scala.collection.mutable.Map[Long, Long]()
    st.stream.requests.map { req =>
      val exp = req.map { l =>
        val e =
          if (l.family >= 0) Some(st.baseId(l.family))
          else founder.get(l.family)
        st.id(l) -> e
      }
      req.filter(_.family < 0).foreach(l => founder.getOrElseUpdate(l.family, st.id(l)))
      exp
    }
  }

  /** `indexes(r)` is the index request r was matched against. */
  case class Session(latencies: Seq[Double], answers: Seq[Map[Long, Long]],
      indexes: Seq[Gazetteer.CanonIndex], index: Gazetteer.CanonIndex)

  private def session(st: Staged, base: Gazetteer.CanonIndex,
      span: String => (=> Any) => Any = untraced): Session = {
    var index = base
    val out = st.requests.indices.map { r =>
      val seen = index
      val ((answers, next), secs) = time(request(st, r, index, span))
      index = next
      (secs, answers, seen)
    }
    Session(out.map(_._1), out.map(_._2), out.map(_._3), index)
  }

  /** Drop the caches of the indexes a session's extensions built, so the
    * next session starts from the base index's caches alone. */
  private def release(s: Session): Unit =
    (s.indexes.tail :+ s.index).distinct.filterNot(_ eq s.indexes.head).foreach(unpersist)

  /** The number of distinct (record, canon) candidate pairs of the
    * session: what each request's block keys reach in the index it saw. */
  private def candidates(st: Staged, s: Session): Long =
    st.requests.indices.map { r =>
      Blocking.blockingMap(st.requests(r), config.model.predicates, "id")
        .join(s.indexes(r).blocks, "block_key").select("id", "canon_id").distinct().count()
    }.sum

  case class Judged(records: Long, correct: Long, failed: Long, f1: Double)

  /** Judge a session's rank-1 links against the expected ones: every
    * record whose link differs, wrong or missing, is a failure. The F1 is
    * over (record, entity) links. */
  private def judge(st: Staged, s: Session): Judged = {
    var correct = 0L; var failed = 0L; var tp = 0L; var fp = 0L; var fn = 0L
    for {
      ((ans, exp), r) <- s.answers.zip(expected(st)).zipWithIndex
      (id, want) <- exp
    } {
      val got = ans.get(id)
      if (got == want) { correct += 1; if (want.isDefined) tp += 1 }
      else {
        if (got.isDefined) fp += 1
        if (want.isDefined) fn += 1
        failed += 1
        note(s"check failed: request $r record $id linked to $got, expected $want")
      }
    }
    val n = s.answers.indices.map(st.stream.requests(_).size).sum.toLong
    Judged(n, correct, failed, if (tp == 0) 0.0 else 2.0 * tp / (2 * tp + fp + fn))
  }

  def timed(ctx: Ctx): Outcome = {
    val t0 = System.nanoTime()
    val st = new Staged(ctx)
    val t1 = System.nanoTime()
    var index: Gazetteer.CanonIndex = null
    val (_, setupS) = medianOf(setupRepeats) {
      if (index != null) unpersist(index)
      index = st.buildIndex(st.prepared)
    }
    val t2 = System.nanoTime()
    val warm = session(st, index)
    val checked = judge(st, warm)
    val cachedBytes = ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    release(warm)
    // a second untimed session: after only one, request times still fell
    // by a third over the next three sessions
    val warm2 = session(st, index)
    release(warm2)
    note(f"phases: staging ${(t1 - t0) / 1e9}%.1f s, set-up ${(t2 - t1) / 1e9}%.1f s, " +
      f"two checked warm-up sessions ${(System.nanoTime() - t2) / 1e9}%.1f s")
    val sessions = loopFor(ctx.seconds, minOps = 3) { _ =>
      val s = session(st, index)
      release(s)
      s
    }
    val judged = Seq(checked, judge(st, warm2)) ++ sessions.map(judge(st, _))
    val lat = sessions.flatMap(_.latencies)
    val n = judged.map(_.records).sum
    val failed = judged.map(_.failed).sum
    note(s"${sessions.size} sessions, ${lat.size} requests of $perRequest records; " +
      f"request p50 ${median(lat)}%.4f s over ${lat.size} samples; " +
      s"request times ${sessions.map(_.latencies.map(x => f"$x%.2f").mkString(" ")).mkString(" | ")} s")
    Outcome(failed == 0, n, failed, Seq(
      Metric("setup_s", setupS, "s"),
      Metric("run_s", median(sessions.map(_.latencies.sum)), "s"),
      Metric("records_per_s", lat.size * perRequest / lat.sum, "1/s"),
      Metric("request_p50_s", median(lat), "s"),
      Metric("pairwise_f1", checked.f1, "ratio"),
      Metric("match_accuracy", judged.map(_.correct).sum.toDouble / n, "ratio"),
      Metric("scratch_bytes_per_input_byte", cachedBytes.toDouble / st.inputBytes, "ratio")))
  }

  /** Analyzed-plan node count of an index's two frames. */
  private def planNodes(idx: Gazetteer.CanonIndex): Long =
    Seq(idx.blocks, idx.fields).map(_.queryExecution.analyzed.collect { case p => p }.size.toLong).sum

  def traced(ctx: Ctx): Outcome = {
    val st = new Staged(ctx)
    val tr = new Tracer(ctx.spark)
    val spark = ctx.spark
    val preparedPath = ctx.dir("replay/canon_prepared")
    tr.span("pipeline.prepare") {
      st.prepared.write.mode("overwrite").parquet(preparedPath)
    }(_ => spark.read.parquet(preparedPath).count())
    val index = tr.span("gazetteer.index") {
      st.buildIndex(spark.read.parquet(preparedPath))
    }(_.blocks.count())
    val setupSpans = tr.take()
    val records = nRequests * perRequest
    val warm = session(st, index)
    val checked = judge(st, warm)
    val candidatesPerRecord = candidates(st, warm).toDouble / records
    release(warm)
    val traced: String => (=> Any) => Any = name => f => tr.span(name)(f)()
    val iters = loopFor(ctx.seconds) { _ =>
      val u = session(st, index)
      release(u)
      val s = session(st, index, traced)
      val nodes = planNodes(s.index)
      release(s)
      (tr.take(), judge(st, s), u.latencies.sum, nodes)
    }
    tr.close()
    val matchJobs = median(iters.map(_._1.collectFirst {
      case ("gazetteer.match", a) => a.jobs.toDouble }.getOrElse(0.0)))
    val extras = DedupeWorkload.zeroExtras ++ Seq(
      Metric("gazetteer.match.jobs_per_request", matchJobs / nRequests, "count"),
      Metric("gazetteer.match.candidates_per_record", candidatesPerRecord, "count"),
      Metric("gazetteer.extend.plan_nodes", median(iters.map(_._4.toDouble)), "count"),
      Metric("trace.overhead_s",
        median(iters.map(i => i._1.map(_._2.wallNs).sum / 1e9 - i._3)), "s"))
    val judged = checked +: iters.map(_._2)
    note(s"${iters.size} traced sessions of $nRequests requests")
    layerOutcome(ctx, iters.map(i => setupSpans ++ i._1), extras,
      judged.map(_.records).sum, judged.map(_.failed).sum)
  }

  /** The match-only per-layer extras, zero on dedupe workloads. */
  val zeroExtras: Seq[Metric] = Seq("gazetteer.match.jobs_per_request",
    "gazetteer.match.candidates_per_record", "gazetteer.extend.plan_nodes")
    .map(Metric(_, 0.0, "count"))
}
