package graft

import org.apache.spark.sql.functions._
import graft.io.TableIO
import graft.pipeline.Review
import graft.score.Threshold

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("TableIO round-trips through the configured format") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tio").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val back = TableIO.checkpoint(spark, df, TableIO.Path(s"$dir/t"))
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
    // append mode
    TableIO.write(df, TableIO.Path(s"$dir/t"), mode = "append")
    assert(TableIO.read(spark, TableIO.Path(s"$dir/t")).count() == 4)
  }

  test("Review: next-cluster selection orders by confidence, skips reviewed") {
    val em = Seq(
      (1L, 100L, 0.9), (2L, 100L, 0.8),
      (3L, 200L, 0.3), (4L, 200L, 0.4),
      (5L, 300L, 0.6)).toDF("id", "component", "confidence")
    val state = Review.init(em)
    val next = Review.nextClusters(state, n = 2)
    val got = next.select("component", "review_rank")
      .as[(Long, Long)].collect().toSeq.sortBy(_._2)
    assert(got == Seq((200L, 1L), (300L, 2L))) // lowest min-confidence first

    // mark 200 accepted; it leaves the queue
    val decisions = Seq((200L, true)).toDF("component", "accept")
    val marked = Review.mark(state, decisions)
    assert(marked.filter($"component" === 200L && !$"reviewed").count() == 0)
    assert(marked.filter($"component" === 200L && $"accepted").count() == 2)
    val next2 = Review.nextClusters(marked, n = 1)
    assert(next2.select("component").as[Long].collect().toSeq == Seq(300L))
    // counters
    val c = Review.counts(marked).filter($"component" === 100L).first()
    assert(c.getLong(1) == 2L && c.getDouble(2) == 0.8)
  }

  test("Threshold.select finds the gap in a bimodal score distribution") {
    // matches near 0.9, non-matches near 0.1 → θ should land in between
    val scores = (Seq.fill(100)(0.92) ++ Seq.fill(100)(0.88) ++
      Seq.fill(400)(0.08) ++ Seq.fill(400)(0.12)).toDF("score")
    val theta = Threshold.select(scores)
    assert(theta > 0.15 && theta <= 0.88, s"theta=$theta")
    // degenerate: empty input → default
    assert(Threshold.select(Seq.empty[Double].toDF("score")) == 0.5)
  }

  test("the full pipeline survives an empty input shard (metrics, CC, " +
      "canon all defined on zero rows)") {
    import graft.pipeline.Dedupe
    val empty = spark.emptyDataset[graft.model.PageRow].toDF()
    val r = Dedupe.run(spark, empty,
      Dedupe.Config(SparkEntry.demoModel, collectMetrics = true))
    assert(r.entityMap.count() == 0)
    assert(r.canon.count() == 0)
    assert(r.metrics.records == 0 && r.metrics.candidatePairs == 0 &&
      r.metrics.entities == 0 && r.metrics.blockKeys == 0)
  }

  test("PagesGen.scaled: replica-disjoint families, deterministic shape") {
    val pages = graft.fixtures.PagesGen.scaled(spark, "/root/testdata/sf0.001", 3)
    val n = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(pages.count() == n * 3 * 2) // base + v1 per (doc, replica)
    assert(pages.select("url").distinct().count() == n * 3 * 2)
    // family token present on both members; replicas share no tokens.
    // CRITICAL: tokenize with the PIPELINE's tokenizer, not a whitespace
    // split — the invariant must hold for the vocabulary blocking actually
    // sees. (An '_' prefix joiner once passed the space-split version of
    // this test while blocking saw '_' as a separator and every bare word
    // leaked back into a corpus-wide shared vocabulary.)
    val toks = pages.select(explode(graft.gfunctions.tokens(col("text"))).as("t"))
    assert(toks.filter(col("t").startsWith("fam")).count() == n * 3 * 2)
    // replica vocabularies are disjoint: no token appears under two prefixes
    val vocabOverlap = toks.filter(col("t").startsWith("r0x"))
      .select(expr("substring(t, 4)").as("w")).distinct()
      .intersect(toks.filter(col("t").startsWith("r1x"))
        .select(expr("substring(t, 4)").as("w")).distinct())
    assert(vocabOverlap.count() > 0, // same underlying words...
      "replicas should be built from the same base corpus")
    // ...and EVERY token is replica-scoped or a family id — one unprefixed
    // shared token (e.g. boilerplate) would be a corpus-wide block growing
    // linearly with volume, breaking the linear-pairs construction
    val unscoped = toks.filter(
      !col("t").rlike("^r[0-9]+x") && !col("t").startsWith("fam"))
    assert(unscoped.isEmpty,
      s"unscoped tokens leak across replicas: ${unscoped.limit(5).collect().mkString(",")}")
    // deterministic: two builds are identical
    val again = graft.fixtures.PagesGen.scaled(spark, "/root/testdata/sf0.001", 3)
    assert(pages.select("url", "text").except(again.select("url", "text")).isEmpty)
  }

  test("a single-page input yields one singleton entity with confidence 1") {
    import graft.pipeline.Dedupe
    val one = Seq(graft.model.PageRow(
      url = "https://one.example/x",
      warc_ts = java.sql.Timestamp.valueOf("2017-07-14 02:40:00"),
      html = "<html/>".getBytes("UTF-8"),
      text = "just one lonely page", lang = "en")).toDF()
    val r = Dedupe.run(spark, one,
      Dedupe.Config(SparkEntry.demoModel, collectMetrics = true))
    val row = r.entityMap.collect()
    assert(row.length == 1 && row(0).getAs[Double]("confidence") == 1.0)
    assert(r.metrics.entities == 1)
  }

  test("run-scoped scratch: snapshots share one per-run dir, reclaimed by " +
      "cleanupScratch once outputs are consumed") {
    import graft.pipeline.Dedupe
    val pages = graft.fixtures.PagesGen.fromDocuments(spark, "/root/testdata/sf0.001")
    val r = Dedupe.run(spark, pages,
      Dedupe.Config(SparkEntry.demoModel, collectMetrics = false))
    assert(r.scratchDir.isDefined,
      "a run that snapshots its prepared frame must report its scratch dir")
    val p = new org.apache.hadoop.fs.Path(r.scratchDir.get)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p), "scratch dir should exist while outputs are live")
    // all snapshots of the run live UNDER the one run dir (one
    // deleteOnExit registration, one delete reclaims everything)
    assert(fs.listStatus(p).nonEmpty)
    // consume outputs, then reclaim
    assert(r.entityMap.count() > 0 && r.canon.count() > 0)
    Dedupe.cleanupScratch(spark, r)
    assert(!fs.exists(p), "cleanupScratch must remove the run dir")
  }

  test("curation chain survives hostile rows; untouched rows stay " +
      "byte-identical end to end") {
    import graft.textops.TextOps
    // the q_curate_pipeline stage order (line-dedup -> repetition filter
    // -> PII redaction -> exact dedup) fed adversarial inputs: null,
    // empty, newline-only, 4-byte-unicode (astral plane), a multi-MB
    // single document, embedded NUL/control chars, CRLF, a 1-char doc.
    // The kernels are individually fuzzed; this pins the COMPOSED
    // pipeline's contract: no throw, and a clean row's bytes pass
    // through untouched.
    // pass-through rows must be long + low-repetition enough to clear
    // the Gopher-style repetition filter (short texts legitimately fail
    // the top-2-gram fraction: one repeated bigram dominates)
    val big = (1 to 400000).map(i => "w" + i).mkString(" ") // ~2.9 MB, low repetition
    val astral = "mixed 😀 emoji " +
      (1 to 40).map(i => "astok" + i).mkString(" ") +
      " gothic 𐍈 chars 🤖 end"
    val clean = "a perfectly ordinary clean sentence " +
      (1 to 40).map(i => "cltok" + i).mkString(" ") + " with no duplicates"
    val rows = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "\n\n\n"),
      (4L, astral),
      (5L, big),
      (6L, clean),
      (7L, "control\u0000char\ttab\u0007bell " +
        (1 to 40).map(i => "cttok" + i).mkString(" ")),
      (8L, "crlf line one\r\nline two\r\n"),
      (9L, "x"))
      .toDF("doc_id", "text")
    val lined = TextOps.dedupeLines(rows, "doc_id", "text", maxLineDf = 10L)
    val kept = lined.filter(TextOps.repetitionKeep(col("text")))
    val red = kept.select(col("doc_id"), TextOps.redactPii(col("text")).as("text"))
    val survivors = TextOps.exactDupes(red, "doc_id", "text")
      .filter(!col("is_dup")).select(col("id").as("doc_id"))
    val out = red.join(survivors, Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // no throw above IS the main assertion; now byte-identity:
    assert(out(4L) == astral, "astral-plane row must pass byte-identical")
    assert(out(5L) == big, "multi-MB row must pass byte-identical")
    assert(out(6L) == clean)
    assert(out(7L).startsWith("control\u0000char\ttab\u0007bell "),
      "NUL/control chars are payload, not separators")
    // null text normalizes to "" via line-rebuild (documented), so rows
    // 1 and 2 are exact dups -> one representative; the newline-only row
    // is NOT collapsed (empty lines are structure, not content)
    assert(Seq(1L, 2L).filter(out.contains) == Seq(1L))
    assert(out(3L) == "\n\n\n", "newline-only row must pass byte-identical")
    // hostile rows never crash the stats kernels either
    assert(rows.select(TextOps.qualityScore(col("text"))).count() == 9)
    assert(rows.select(TextOps.piiCounts(col("text"))).count() == 9)
  }
}
