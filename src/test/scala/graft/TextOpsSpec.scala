package graft

import org.apache.spark.sql.functions._
import graft.textops.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("token counts") {
    val df = Seq("hello world, foo-bar!", "").toDF("text")
    val got = df.select(
      TextOps.tokenCount($"text").as("tc"),
      TextOps.bpeishCount($"text").as("bc")).collect()
    assert(got(0).getInt(0) == 4) // hello world foo bar
    assert(got(0).getInt(1) == 7) // hello world , foo - bar !
    assert(got(1).getInt(0) == 0 && got(1).getInt(1) == 0)
  }

  test("langId stopword voting") {
    val df = Seq(
      "the cat is in the house and it is warm",
      "der hund ist nicht auf der wiese und das ist gut",
      "le chat est dans la maison et il est content",
      "el perro es un animal y la casa es grande",
      "zzz qqq xxx").toDF("text")
    val got = df.select(TextOps.langId($"text")).as[String].collect().toSeq
    assert(got == Seq("en", "de", "fr", "es", "und"))
  }

  test("gopherRules: hand-computed battery on fixed lines") {
    // 2 lines, 10 words; line 1 bulleted; line 2 ends with an ellipsis;
    // one '#'; words "the"/"of" hit the stop list; "42" is non-alpha
    val text = "- the quick # fox\nruns out of steam 42 ..."
    val r = Seq(text).toDF("text")
      .select(TextOps.gopherRules($"text").as("g")).select($"g.*")
      .collect()(0)
    assert(r.getAs[Long]("n_words") == 11) // incl '-', '#', '...'
    // word lens: 1,3,5,1,3 | 4,3,2,5,2,3 = sum 32 / 11
    assert(math.abs(r.getAs[Double]("mean_word_len") - 32.0 / 11) < 1e-6)
    assert(math.abs(r.getAs[Double]("hash_ratio") - 1.0 / 11) < 1e-6)
    assert(math.abs(r.getAs[Double]("ellipsis_ratio") - 1.0 / 11) < 1e-6)
    assert(r.getAs[Double]("bullet_line_frac") == 0.5)
    assert(r.getAs[Double]("ellipsis_line_frac") == 0.5)
    // non-alpha words: '-', '#', '42', '...' -> 7/11 alpha
    assert(math.abs(r.getAs[Double]("alpha_word_frac") - 7.0 / 11) < 1e-6)
    assert(r.getAs[Long]("stop_hits") == 2) // the, of
    assert(!r.getAs[Boolean]("keep")) // fails the 50-word floor
  }

  test("gopherRules: long fluent text keeps") {
    val body = Array.fill(30)("the data and that of systems have with scale").mkString(" ")
    val r = Seq(body).toDF("text")
      .select(TextOps.gopherRules($"text").as("g")).select($"g.*")
      .collect()(0)
    assert(r.getAs[Long]("n_words") == 270)
    assert(r.getAs[Long]("stop_hits") == 6)
    assert(r.getAs[Double]("alpha_word_frac") == 1.0)
    assert(r.getAs[Boolean]("keep"))
  }

  test("c4Filters: line filter, sentence floor, page signals") {
    val keptLine = "this line has enough words to pass easily."
    val text = Seq(keptLine, "too short.", "no terminal punctuation here at all",
      keptLine, keptLine).mkString("\n")
    val r = Seq(text).toDF("text")
      .select(TextOps.c4Filters($"text").as("c")).select($"c.*")
      .collect()(0)
    assert(r.getAs[Long]("n_lines") == 5)
    assert(r.getAs[Long]("n_kept_lines") == 3)
    assert(r.getAs[Long]("n_sentences") == 3)
    assert(!r.getAs[Boolean]("has_lorem") && !r.getAs[Boolean]("has_brace") &&
      !r.getAs[Boolean]("has_js"))
    assert(r.getAs[Boolean]("keep"))
    assert(r.getAs[String]("clean_text") == Seq(keptLine, keptLine, keptLine).mkString("\n"))

    val bad = Seq(
      s"$keptLine\n$keptLine\nLorem ipsum dolor sit amet consectetur.",
      s"$keptLine\n$keptLine\nvar x = { a: 1 }; more words here.",
      s"$keptLine\n$keptLine\nplease enable javascript to view this page.",
      s"$keptLine\n$keptLine\nJavaScripted words do not count as javascript? yes.")
      .toDF("text")
      .select(TextOps.c4Filters($"text").as("c")).select($"c.*")
      .collect()
    assert(!bad(0).getAs[Boolean]("keep") && bad(0).getAs[Boolean]("has_lorem"))
    assert(!bad(1).getAs[Boolean]("keep") && bad(1).getAs[Boolean]("has_brace"))
    assert(!bad(2).getAs[Boolean]("keep") && bad(2).getAs[Boolean]("has_js"))
    // word-boundary guard: "JavaScripted" alone must NOT trip has_js,
    // but the bare "javascript?" token later in the line does
    assert(bad(3).getAs[Boolean]("has_js"))
  }

  test("qualityScore: clean text beats garbage") {
    val df = Seq(
      "The quick brown fox jumps over the lazy dog and it is a fine day in the park for everyone.",
      "@@@ ### !!! ;;; ::: ,,, ... ??? %%% ^^^",
      "a").toDF("text")
    val got = df.select(TextOps.qualityScore($"text")).as[Double].collect()
    assert(got(0) > 0.6, s"clean text scored ${got(0)}")
    assert(got(1) < 0.4, s"garbage scored ${got(1)}")
    assert(got(2) < got(0))
    assert(got.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("exact dedup groups identical texts; null texts dropped, never " +
      "aliased into one group") {
    val df = Seq(
      (1L, Some("same text")), (2L, Some("same text")), (3L, Some("other")),
      (4L, Some("same text")), (5L, None: Option[String]),
      (6L, None: Option[String]))
      .toDF("id", "text")
    val got = TextOps.exactDupes(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // ids 5 and 6 (null text) are absent — xxhash64 would alias them to
    // one seed-hash group and mark 6 a "duplicate" of 5
    assert(got == Set((1L, 1L, false), (2L, 1L, true), (3L, 3L, false), (4L, 1L, true)))
  }

  test("minhash LSH finds near-dups, not unrelated") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 38).map(i => s"tok$i").mkString(" ") + " xx yy"
    val far = (100 to 140).map(i => s"zz$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "text")
    val pairs = TextOps.minhashDupePairs(df, "id", "text", jaccardThreshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash dedup finds near-dups with hamming verify") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 59).map(i => s"tok$i").mkString(" ") + " other"
    val far = (100 to 160).map(i => s"qq$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "text")
    val pairs = TextOps.simhashDupePairs(df, "id", "text", bands = 4, maxHamming = 6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash dedup bands=1 (width 64): exact duplicates still pair " +
      "(mod-64 shift must not degenerate the band mask to 0)") {
    // a zero band mask (the (1L<<64)-1 == 0 bug) keys EVERY doc to one
    // bucket; with more docs than maxBucketSize that bucket is dropped and
    // even byte-identical duplicates silently vanish. With the full-width
    // mask the dup pair shares its own 2-row bucket and must survive.
    val dup = (1 to 60).map(i => s"tok$i").mkString(" ")
    val fars = (1 to 8).map(d => ((10 + d).toLong,
      (100 to 160).map(i => s"w${d}q$i").mkString(" ")))
    val df = (Seq((1L, dup), (2L, dup)) ++ fars).toDF("id", "text")
    val pairs = TextOps.simhashDupePairs(df, "id", "text",
      bands = 1, maxHamming = 0, maxBucketSize = 5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash dedup with combo banding: exact dup found, hamming verify " +
      "still bounds the output") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val far = (100 to 160).map(i => s"qq$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, far)).toDF("id", "text")
    val pairs = TextOps.simhashDupePairs(df, "id", "text",
      maxHamming = 3, comboBlocks = 6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ngram jaccard spot values") {
    val df = Seq(("abcd", "abcd"), ("abcd", "wxyz")).toDF("a", "b")
    val got = df.select(TextOps.ngramJaccard($"a", $"b", 3)).as[Double].collect()
    assert(got(0) == 1.0)
    assert(got(1) == 0.0)
  }

  test("winnowing fingerprints: shared substrings guarantee shared prints; " +
      "disjoint texts share none") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val quoted = "completely new framing text then " + base + " and a new tail"
    val far = "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo nnn mmm"
    val df = Seq((1L, base), (2L, quoted), (3L, far)).toDF("id", "text")
      .withColumn("fp", TextOps.winnowFingerprints(col("text")))
    val fps = df.select("id", "fp").as[(Long, Seq[Long])].collect().toMap
    // winnowing guarantee: a shared substring of length >= k+w-1 (here 8)
    // yields >= 1 shared fingerprint — the 63-char quote shares many
    assert(fps(1L).toSet.intersect(fps(2L).toSet).size > 5)
    assert(fps(1L).toSet.intersect(fps(3L).toSet).isEmpty)
    // deterministic + self-similarity 1.0, and similarity is symmetric
    val sim = df.as("a").crossJoin(df.as("b"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        TextOps.winnowSimilarity(col("a.fp"), col("b.fp")).as("s"))
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, s) => (i, j) -> s }.toMap
    assert(sim((1L, 1L)) == 1.0)
    assert(sim((1L, 2L)) == sim((2L, 1L)))
    assert(sim((1L, 2L)) > 0.3 && sim((1L, 3L)) == 0.0)
    // short-text edge: below k chars still fingerprints (whole-text hash)
    val short = Seq((9L, "ab")).toDF("id", "text")
      .select(TextOps.winnowFingerprints(col("text")).as("fp"))
      .as[Seq[Long]].collect()
    assert(short(0).length == 1)
    // null text → null fingerprints, NOT a shared [seed] print (which
    // would make all extraction-failed pages mutual perfect near-dups)
    val nulls = Seq((10L, None: Option[String]), (11L, None: Option[String]))
      .toDF("id", "text")
    val nfp = nulls.select(TextOps.winnowFingerprints(col("text")).as("fp"))
      .as[Option[Seq[Long]]].collect().toSeq
    assert(nfp == Seq(None, None))
    assert(nulls.as("a").crossJoin(nulls.as("b"))
      .select(TextOps.winnowSimilarity(
        TextOps.winnowFingerprints(col("a.text")),
        TextOps.winnowFingerprints(col("b.text"))).as("s"))
      .filter(col("s").isNotNull).count() == 0)
  }

  test("budgetSample: greedy prefix per group, boundary doc kept, every " +
      "non-empty group keeps one, salted two-stage equals single-window") {
    import spark.implicits._
    // group A: scores force order 3,2,1 with tokens 900,900,900 at budget
    // 2000 → docs 3 and 2 kept (cum 900, 1800), doc 1 crosses at 2700:
    // preceding 1800 < 2000 so the BOUNDARY doc is kept; doc 0 dropped.
    // group B: one oversized doc (5000 > budget) still kept.
    val df = Seq(
      (1L, "A", 900L, 10L), (2L, "A", 900L, 20L), (3L, "A", 900L, 30L),
      (0L, "A", 900L, 5L),
      (9L, "B", 5000L, 1L)).toDF("id", "g", "n_tok", "score")
    val got = TextOps.budgetSample(df, Seq("g"), "n_tok",
        col("score"), "id", budgetTokens = 2000L)
      .select("g", "id", "cum_tokens")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("A", 3L, 900L), ("A", 2L, 1800L), ("A", 1L, 2700L),
      ("B", 9L, 5000L)))
    // property: skew-proof two-stage == single-window on a hot group
    val rnd = new scala.util.Random(11)
    val big = (1 to 3000).map { i =>
      (i.toLong, if (i % 10 == 0) s"g${i % 7}" else "hot",
        (1 + rnd.nextInt(50)).toLong, rnd.nextInt(1000).toLong)
    }.toDF("id", "g", "n_tok", "score")
    def run(s: Int) = TextOps.budgetSample(big, Seq("g"), "n_tok",
        col("score"), "id", budgetTokens = 500L, salts = s)
      .select("g", "id", "cum_tokens")
      .as[(String, Long, Long)].collect().toSet
    assert(run(16) == run(0))
  }

  test("reclaimLibraryScratch deletes operator snapshots and is " +
      "idempotent; operators keep working afterwards") {
    import spark.implicits._
    import graft.pipeline.Dedupe
    val df = (1 to 30).map(i =>
      (i.toLong, (1 to 40).map(j => s"t${i % 3}x$j").mkString(" ")))
      .toDF("id", "text")
    // drain any snapshots earlier tests left registered
    Dedupe.reclaimLibraryScratch(spark)
    def scratchDirs(): Int = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      Option(tmp.listFiles()).map(
        _.count(_.getName.startsWith("graft_minhash_sigs"))).getOrElse(0)
    }
    val before = scratchDirs()
    TextOps.minhashDupePairs(df, "id", "text").count()
    assert(scratchDirs() > before, "expected a minhash signature snapshot")
    Dedupe.reclaimLibraryScratch(spark)
    assert(scratchDirs() == before, "snapshot dir not reclaimed")
    Dedupe.reclaimLibraryScratch(spark) // idempotent
    // operator still functional after reclaim (fresh snapshots)
    assert(TextOps.minhashDupePairs(df, "id", "text").count() > 0)
    Dedupe.reclaimLibraryScratch(spark)
  }

  test("property: winnowing guarantee on 30 random pairs with a planted " +
      "shared substring of length >= k+w-1") {
    val rnd = new scala.util.Random(77)
    def randText(len: Int): String =
      Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    val cases = (1 to 30).map { i =>
      val shared = randText(8 + rnd.nextInt(30)) // >= k+w-1 = 8
      (i.toLong, randText(rnd.nextInt(40)) + shared + randText(rnd.nextInt(40)),
        randText(rnd.nextInt(40)) + shared + randText(rnd.nextInt(40)))
    }
    val got = cases.toDF("i", "a", "b")
      .select(col("i"), size(array_intersect(
        TextOps.winnowFingerprints(col("a")),
        TextOps.winnowFingerprints(col("b")))).as("common"))
      .as[(Long, Int)].collect()
    val misses = got.filter(_._2 < 1)
    assert(misses.isEmpty,
      s"winnowing guarantee violated for cases: ${misses.map(_._1).mkString(",")}")
  }

  test("repetition stats: hand-computed fixture + edge cases") {
    import graft.gfunctions.repetition_stats
    // lines: "a b a b" (dup), "x y"; tokens: a b a b x y a b a b
    val txt = "a b a b\nx y\na b a b"
    val got = Seq(txt).toDF("text")
      .select(repetition_stats($"text")).as[Seq[Double]].collect()(0)
    assert(got(0) == 1.0 / 3)   // 1 dup line of 3
    assert(got(1) == 7.0 / 17)  // 7 dup chars of 17
    assert(got(2) == 4.0 / 9)   // "a b" 4 of 9 2-grams
    assert(got(3) == 2.0 / 8)   // "a b a" / "b a b" 2 of 8 3-grams
    assert(got(4) == 0.0)       // all six 5-grams distinct
    // empty + too-short inputs give all-zero, null stays null
    val edge = Seq(Some(""), Some("one two"), None).toDF("text")
      .select(repetition_stats($"text")).collect()
    assert(edge(0).getSeq[Double](0) == Seq(0.0, 0.0, 0.0, 0.0, 0.0))
    // a 2-token doc has exactly one 2-gram, so the top 2-gram IS 100% of
    // them; 3/5-gram totals are 0 -> 0.0
    assert(edge(1).getSeq[Double](0) == Seq(0.0, 0.0, 1.0, 0.0, 0.0))
    assert(edge(2).isNullAt(0))
  }

  test("repetitionKeep: repetitive doc dropped, varied doc kept") {
    val varied = (1 to 30).map(i => s"word$i").mkString(" ")
    val loop = ("spam ham " * 20).trim
    val df = Seq((1L, varied), (2L, loop)).toDF("id", "text")
    val got = df.select($"id", TextOps.repetitionKeep($"text").as("keep"))
      .as[(Long, Boolean)].collect().toMap
    assert(got(1L) && !got(2L))
    // the predicate must hold exactly ONE kernel occurrence — filter
    // codegen does no common-subexpression elimination (parquet-backed
    // scan: a local relation would const-fold the filter away entirely;
    // count expression nodes, not plan-string hits — the scan line
    // echoes the pushed filter text a second time)
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(TextOps.repetitionKeep($"text"))
      .queryExecution.executedPlan
    val kernels = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.collect { case e: graft.expr.RepetitionStatsExpr => e }.size
    }.sum
    assert(kernels == 1, plan.toString)
  }

  test("dedupeLines: corpus-hot lines removed, short + rare kept, " +
      "payload columns and all-boilerplate docs survive") {
    val df = Seq(
      (1L, "foo\nab\nkeep one", "en"),
      (2L, "foo\nab\nkeep two", "de"),
      (3L, "foo\nab\nkeep three", "fr"),
      (4L, "foo", "es")).toDF("doc_id", "text", "lang")
    val got = TextOps.dedupeLines(df, "doc_id", "text",
        maxLineDf = 2L, minLineLen = 3)
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().toSet
    // "foo" (len 3, df 3 > 2) is stripped everywhere; "ab" is below
    // minLineLen so its df-3 never matters; doc 4 survives as ""
    assert(got == Set(
      (1L, "ab\nkeep one", "en"),
      (2L, "ab\nkeep two", "de"),
      (3L, "ab\nkeep three", "fr"),
      (4L, "", "es")))
  }

  test("redactPii: emails/phones/IPs tokenized; digit-run edges stay put") {
    val df = Seq(
      "mail a.b+c@x-y.co or 555-123-4567, host 192.168.0.1 ok",
      // no \b inside a digit run: 1234-567-8901 is NOT a phone; a@b has
      // no TLD dot so it is NOT an email
      "not 1234-567-8901 nor a@b here").toDF("text")
    val got = df.select(TextOps.redactPii($"text")).as[String].collect()
    assert(got(0) == "mail <EMAIL> or <PHONE>, host <IP> ok")
    assert(got(1) == "not 1234-567-8901 nor a@b here")
    val c = df.select(TextOps.piiCounts($"text").as("c")).select("c.*")
      .as[(Long, Long, Long)].collect()
    assert(c(0) == ((1L, 1L, 1L)) && c(1) == ((0L, 0L, 0L)))
  }

  test("ngramOverlap: flags >=minHits distinct-gram pairs, drops boilerplate") {
    // "alpha beta gamma" appears in 3 train docs -> df > 2 -> boilerplate
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma zeta eta"),
      (3L, "alpha beta gamma theta iota"),
      (4L, "unrelated words here nothing shared")).toDF("doc_id", "text")
    val evals = Seq(
      (101L, "beta gamma delta epsilon xyz"),  // 2 fresh grams with t1
      (102L, "alpha beta gamma qqq rrr"),      // only the boilerplate gram
      (103L, "beta gamma zeta www xxx"))       // 1 fresh gram with t2
      .toDF("doc_id", "text")
    val got = TextOps.ngramOverlap(train, evals, "doc_id", "text",
        n = 3, minHits = 2L, maxTrainDocFreq = 2L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 101L, 2L)))
    // duplicated gram inside one doc counts once (distinct per doc)
    val dupTrain = Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text")
    val dupEval = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    val one = TextOps.ngramOverlap(dupTrain, dupEval, "doc_id", "text",
        n = 3, minHits = 1L, maxTrainDocFreq = 10L)
      .as[(Long, Long, Long)].collect().toSet
    assert(one == Set((1L, 9L, 1L)))
  }

  test("ngramOverlap: spliced train fragments are flagged in a random corpus") {
    def doc(seed: Int, len: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(len)(s"w${r.nextInt(400)}").mkString(" ")
    }
    val train = (1 to 25).map(i => (i.toLong, doc(i, 60))).toDF("doc_id", "text")
    // half the evals splice a real 12-token train fragment -> guaranteed hits
    val evals = (1 to 12).map { i =>
      val base = doc(1000 + i, 30)
      val spliced = if (i % 2 == 0) {
        val src = doc(i, 60).split(" ").slice(10, 22).mkString(" ")
        base + " " + src
      } else base
      (100L + i, spliced)
    }.toDF("doc_id", "text")
    val got = TextOps.ngramOverlap(train, evals, "doc_id", "text",
        n = 5, minHits = 2L, maxTrainDocFreq = 20L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.nonEmpty, "spliced fragments must produce flags")
  }

  test("curate-chain seams: fully-boilerplate docs pass the repetition " +
      "filter empty and merge; redaction-induced collisions merge") {
    import spark.implicits._
    // docs 1-12 are ONLY the hot line -> rebuilt text '' (kernel stats all
    // 0 on empty -> keep); docs 21/22 differ pre-redaction only in the
    // email local part -> identical post-redaction -> one exact-dup group
    val hot = (1 to 12).map(i => (i.toLong, "shared boilerplate row"))
    val mail = Seq(
      (21L, "payload alpha beta mail user21@x.org tail"),
      (22L, "payload alpha beta mail user22@x.org tail"))
    val docs = (hot ++ mail).toDF("doc_id", "text")
    val lined = TextOps.dedupeLines(docs, "doc_id", "text", maxLineDf = 10L)
    val kept = lined.filter(TextOps.repetitionKeep(col("text")))
    assert(kept.count() == 14, "empty-rebuilt docs must pass the keep filter")
    val red = kept.select(col("doc_id"), TextOps.redactPii(col("text")).as("text"))
    val groups = TextOps.exactDupes(red, "doc_id", "text")
      .groupBy("rep").count().as[(Long, Long)].collect().toMap
    assert(groups(1L) == 12, "the 12 empty docs collapse to rep 1")
    assert(groups(21L) == 2, "post-redaction collision 21/22 merges")
  }

  test("spanDedupe: shared 9-token run spliced out everywhere but the " +
      "keeper; untouched docs byte-identical; census stable") {
    import spark.implicits._
    // keeper's copy is mixed-case: gram matching is case-insensitive,
    // but the keeper's original bytes survive untouched
    val keeperText = "X1: Common one TWO three, four five six seven eight — y1."
    val shared = "common one two three four five six seven eight"
    val unrelated = "Unrelated words, only here; nothing SHARED at all today!"
    val docs = Seq(
      (1L, keeperText),
      (2L, s"x2 $shared y2"),
      (3L, unrelated)
    ).toDF("doc_id", "text")
    val got = TextOps.spanDedupe(docs, "doc_id", "text", k = 8)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, keeperText, 0L)),
      "keeper keeps its original bytes, casing and punctuation included")
    assert(got(1) == ((2L, "x2 y2", 9L)),
      "non-keeper loses the 9 span tokens, each with its trailing separator")
    assert(got(2) == ((3L, unrelated, 0L)),
      "untouched doc comes back byte-identical")
    assert(got.length == 3, "row census stable")
    // doc reduced to nothing: both docs are ONLY the span -> keeper
    // keeps it, the other rebuilds to "" (still present in the output)
    val all = Seq((5L, shared), (4L, shared)).toDF("doc_id", "text")
    val g2 = TextOps.spanDedupe(all, "doc_id", "text", k = 8)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(g2(0) == ((4L, shared, 0L)) && g2(1) == ((5L, "", 9L)))
  }

  test("packShards: bucketed prefix sum equals the sequential walk; " +
      "assignment is bucket-width independent on sparse ids") {
    import spark.implicits._
    val rows = (0 until 500).map(i => (i.toLong, (i * 13 % 37 + 1).toLong))
    val df = rows.toDF("id", "n").repartition(8)
    val got = TextOps.packShards(df, "id", "n",
        targetTokens = 100, bucketWidth = 7)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    var cum = 0L
    val want = rows.sortBy(_._1).map { case (id, n) =>
      val s = cum / 100; cum += n; (id, n, s)
    }
    assert(got == want)
    // sparse, gappy ids: two very different bucket widths agree exactly
    val sparse = rows.map { case (id, n) => (id * 1009 + 17, n) }
      .toDF("id", "n").repartition(8)
    def run(bw: Long) = TextOps.packShards(sparse, "id", "n",
        targetTokens = 100, bucketWidth = bw)
      .as[(Long, Long, Long)].collect().toSet
    assert(run(3L) == run(1L << 20))
    // null ids / token counts are rejected with a clear message, not an NPE
    val nullId = Seq((Some(1L), Some(5L)), (None: Option[Long], Some(3L)))
      .toDF("id", "n")
    val e1 = intercept[IllegalArgumentException] {
      TextOps.packShards(nullId, "id", "n", 10, 7)
    }
    assert(e1.getMessage.contains("contains nulls"))
    val nullTok = Seq((Some(1L), Some(5L)), (Some(2L), None: Option[Long]))
      .toDF("id", "n")
    val e2 = intercept[IllegalArgumentException] {
      TextOps.packShards(nullTok, "id", "n", 10, 7)
    }
    assert(e2.getMessage.contains("contains nulls"))
  }

  test("extractHtmlText: script/style/comment bodies dropped, tags to " +
      "spaces, entities decoded in unescape order, null passes through") {
    import spark.implicits._
    import graft.textops.TextOps
    val got = Seq(
      "<html><head><style>a{b:c}</style></head><body><p>Hello&nbsp;&amp;" +
        "&#39;world&#39;</p><script>var a='<b>not text</b>';</script>" +
        "<!-- gone --></body></html>",
      // double-escape: &amp;lt; must decode to the LITERAL &lt;
      "<p>x &amp;lt; y</p>",
      // case-insensitive block tags, attribute-bearing
      "<SCRIPT type=\"module\">s</SCRIPT><STYLE media=x>c</STYLE>kept",
      // multiline block bodies (dotall) + whitespace collapse
      "<p>a</p>\n<script>\nline1\nline2\n</script>\n<p>b</p>",
      // vertical tab is in the explicit whitespace class (Java \s has
      // it, RE2 \s doesn't — the class keeps both engines identical)
      "a\u000B\u000Bb",
      null).toDF("h")
      .select(TextOps.extractHtmlText(encode(col("h"), "UTF-8")).as("t"))
      .as[Option[String]].collect().toSeq
    assert(got == Seq(Some("Hello &'world'"), Some("x &lt; y"),
      Some("kept"), Some("a b"), Some("a b"), None))
  }

  test("extractHtmlText round-trips PagesGen html to byte-identical text " +
      "on whitespace-canonical rows (north-star per-row invariant)") {
    import graft.fixtures.PagesGen
    import graft.textops.TextOps
    val (pages, _) = PagesGen.generate(spark, 200)
    val df = pages.toDF
    // base rows join tokens with single spaces; whitespace-noise variants
    // (perturb kind 0) are excluded from the byte-identity claim...
    val canon = df.filter(!col("text").rlike("(^\\s)|(\\s$)|\\s{2}"))
    assert(canon.count() > 300)
    // null-safe inequality: =!= would pass vacuously on a null extract
    assert(canon.filter(!(
      TextOps.extractHtmlText(col("html")) <=> col("text"))).count() == 0)
    // ...but EVERY row, noise included, matches after canonical collapse
    assert(df.filter(!(TextOps.extractHtmlText(col("html")) <=>
      trim(regexp_replace(col("text"), "\\s+", " ")))).count() == 0)
  }

  test("keepBest: highest score wins, ties break to the smaller id; " +
      "Long.MinValue id survives the bitwise-not ordering") {
    import spark.implicits._
    import graft.textops.TextOps
    val df = Seq(
      ("a", 1L, 0.5), ("a", 2L, 0.9), ("a", 3L, 0.9), // tie at 0.9 → id 2
      // tie at 0.1 → MinValue is the smaller id; -id would overflow
      // right here and wrongly pick 7
      ("b", Long.MinValue, 0.1), ("b", 7L, 0.1),
      ("c", 9L, 0.3)).toDF("grp", "id", "score").repartition(4)
    val got = TextOps.keepBest(df, Seq("grp"), "score", "id")
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", 2L, 0.9), ("b", Long.MinValue, 0.1),
      ("c", 9L, 0.3)))
  }

  test("dedupeAgainstCorpus: corpus hit, fresh winner, within-batch dup, " +
      "duplicated corpus text, null text; all hash/join paths agree") {
    import spark.implicits._
    import graft.textops.TextOps
    // 'beta' is duplicated in the corpus: the hits-side distinct guard
    // must keep its batch row from fanning out to two output rows.
    // Null texts (both sides) are dropped, identically on every path.
    val corpus = Seq((1L, Some("alpha")), (2L, Some("beta")),
      (3L, Some("beta")), (4L, None: Option[String]))
      .toDF("id", "text").repartition(4)
    val batch = Seq((10L, Some("alpha")), (11L, Some("gamma")),
      (12L, Some("gamma")), (13L, Some("delta")), (14L, Some("beta")),
      (15L, None: Option[String])).toDF("id", "text").repartition(4)
    def run(bcast: Boolean, strong: Boolean) =
      TextOps.dedupeAgainstCorpus(batch, corpus, "id", "text",
          broadcastBatchHashes = bcast, strongHash = strong)
        .as[(Long, Boolean, Long, Boolean)].collect().sortBy(_._1).toSeq
    val got = run(bcast = true, strong = true)
    assert(got == Seq(
      (10L, true, 10L, false),  // re-crawl of alpha: corpus gate
      (11L, false, 11L, true),  // fresh winner
      (12L, false, 11L, false), // within-batch dup: representative gate
      (13L, false, 13L, true),
      (14L, true, 14L, false))) // exactly ONE row despite 2 corpus betas
    assert(run(bcast = false, strong = true) == got)
    assert(run(bcast = true, strong = false) == got)
    assert(run(bcast = false, strong = false) == got)
    // bloom gate: bit-identical output on every hash/join combination
    // (false positives die at the exact join; negatives are truly absent)
    for (strong <- Seq(true, false); bcast <- Seq(true, false)) {
      val bf = TextOps.corpusTextBloom(corpus, "text",
        expectedItems = 100L, fpp = 0.01, strongHash = strong)
      assert(TextOps.dedupeAgainstCorpus(batch, corpus, "id", "text",
          broadcastBatchHashes = bcast, strongHash = strong,
          corpusBloom = Some(bf))
        .as[(Long, Boolean, Long, Boolean)].collect().sortBy(_._1).toSeq
        == got, s"bloom path diverged at strong=$strong bcast=$bcast")
    }
  }

  test("corpusTextBloom: no false negatives ever; false-positive rate " +
      "on disjoint probes stays near the configured fpp") {
    import spark.implicits._
    import graft.textops.TextOps
    val corpus = (0 until 2000).map(i => (i.toLong, s"corpus text $i"))
      .toDF("id", "text")
    val bf = TextOps.corpusTextBloom(corpus, "text",
      expectedItems = 2000L, fpp = 0.01)
    val probe = org.apache.spark.sql.GraftBridge.bloomMightContain(
      bf.filter, xxhash64(unhex(sha2(col("text"), 256))))
    // every corpus text MUST probe positive (bloom guarantee)
    assert(corpus.filter(!probe).count() == 0)
    // disjoint probes: positives are bloom false positives only; at 1%
    // fpp over 10k probes, 3% is a >6-sigma ceiling
    val disjoint = (0 until 10000).map(i => s"novel probe $i").toDF("text")
    val fp = disjoint.filter(probe).count()
    assert(fp < 300, s"false-positive count $fp out of 10000 at fpp=0.01")
  }

  test("corpusTextBloom hardening: hash-mode mismatch fails loudly, " +
      "oversize requests don't silently saturate, empty corpus gives a " +
      "valid all-negative filter, merge tracks an appended corpus") {
    import spark.implicits._
    import graft.textops.TextOps
    val corpus = (0 until 100).map(i => (i.toLong, s"seed text $i"))
      .toDF("id", "text")
    val batch = Seq((900L, Some("seed text 1")), (901L, Some("brand new")))
      .toDF("id", "text")
    // (a) strongHash mismatch must be rejected, not silently all-negative
    val weak = TextOps.corpusTextBloom(corpus, "text", 100L,
      strongHash = false)
    val e = intercept[IllegalArgumentException] {
      TextOps.dedupeAgainstCorpus(batch, corpus, "id", "text",
        corpusBloom = Some(weak))
    }
    assert(e.getMessage.contains("strongHash"))
    // (b) expectedItems above the runtime-filter conf cap (4M) must keep
    // its fpp: 100 items in a 10M-sized filter can't all-positive a
    // disjoint probe set (a silently 8MB-capped filter would be fine too
    // — the real assertion is that the build doesn't throw and stays
    // correct; saturation is impossible at this count either way)
    val big = TextOps.corpusTextBloom(corpus, "text", 10_000_000L, 0.01)
    val probeBig = org.apache.spark.sql.GraftBridge.bloomMightContain(
      big.filter, xxhash64(unhex(sha2(col("text"), 256))))
    assert(corpus.filter(!probeBig).count() == 0)
    val disjoint = (0 until 2000).map(i => s"other $i").toDF("text")
    assert(disjoint.filter(probeBig).count() < 60)
    // conf restored after the build
    assert(spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
      <= 4000000L)
    // (c) empty corpus: valid filter, everything negative, dedupe output
    // identical to the no-bloom path (nothing is in the corpus)
    val emptyCorpus = Seq.empty[(Long, String)].toDF("id", "text")
    val ebf = TextOps.corpusTextBloom(emptyCorpus, "text", 100L)
    assert(ebf.filter != null && ebf.filter.nonEmpty)
    val got = TextOps.dedupeAgainstCorpus(batch, emptyCorpus, "id", "text",
        corpusBloom = Some(ebf))
      .as[(Long, Boolean, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq((900L, false, 900L, true), (901L, false, 901L, true)))
    // (d) corpus append: merging the appended texts' bloom (same sizing)
    // restores no-false-negatives over the union
    val appended = Seq((900L, "appended text")).toDF("id", "text")
    val merged = TextOps.corpusTextBloom(corpus, "text", 100L)
      .merge(TextOps.corpusTextBloom(appended, "text", 100L))
    val probeM = org.apache.spark.sql.GraftBridge.bloomMightContain(
      merged.filter, xxhash64(unhex(sha2(col("text"), 256))))
    assert(corpus.unionByName(appended).filter(!probeM).count() == 0)
  }

  test("spanDedupe: varied corpus loses its shared spans, keeper doc 0 intact") {
    import spark.implicits._
    // varied corpus: per-doc unique prefix, a corpus-wide license span,
    // a group-level span on doc_id % 3 == 0, unique tails
    val span = "terms of service all content provided here is licensed for verbatim reuse"
    val grp = "mirror notice this page is an archived copy"
    val docs = (0 until 60).map { i =>
      val g = if (i % 3 == 0) s" $grp" else ""
      (i.toLong, s"u$i $span$g tail${i % 7} t$i")
    }.toDF("doc_id", "text")
    val got = TextOps.spanDedupe(docs, "doc_id", "text", k = 8)
      .as[(Long, String, Long)].collect().toSet
    assert(got.exists(_._3 > 0), "spans must actually be removed")
    assert(got.exists(r => r._1 == 0L && r._3 == 0L), "doc 0 is the keeper")
  }
}
