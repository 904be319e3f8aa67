package graft

import org.apache.spark.sql.functions._
import graft.textops.LangModel

/** Hand-checked Lidstone trigram LM cross-entropy (textops/LangModel). */
class LangModelSpec extends SparkSpec {
  import spark.implicits._

  // reference corpus: trigram census {"a b a":1, "b a b":1, "a b c":2},
  // contexts {"a b":3, "b a":1}, vocab = |{a,b,c}| + 1 = 4
  private def ref = Seq((1L, "A b a B c"), (2L, "a b c")).toDF("id", "text")

  private def micros(ratios: Seq[(Double, Double)]): Long =
    ratios.map { case (num, den) =>
      BigDecimal(math.log(num / den) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum

  private def ceOf(m: Long, n: Long): Double =
    BigDecimal(-m / (1e6 * n)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  test("cross-entropy matches hand-computed Lidstone probabilities") {
    val lm = LangModel.fit(ref, "text", n = 3)
    val docs = Seq(
      (10L, "a b c"),     // seen gram: p = 2.1/3.4
      (11L, "x y"),       // < n tokens: NULL metrics
      (12L, "z z q"),     // unseen gram AND context: p = 0.1/0.4
      (13L, "a b z"),     // unseen gram, seen context: p = 0.1/3.4
      (14L, "a b a b c")  // 3 grams: 1.1/3.4, 1.1/1.4, 2.1/3.4
    ).toDF("id", "text")
    val out = LangModel.crossEntropy(docs, "id", "text", lm, alpha = 0.1)
      .orderBy("id")
      .select("id", "n_grams", "logprob_micros", "ce")
      .collect()

    val m10 = micros(Seq((2.1, 3.4)))
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == m10)
    assert(out(0).getDouble(3) == ceOf(m10, 1))

    assert(out(1).isNullAt(1) && out(1).isNullAt(2) && out(1).isNullAt(3))

    val m12 = micros(Seq((0.1, 0.4)))
    assert(out(2).getLong(2) == m12)

    val m13 = micros(Seq((0.1, 3.4)))
    assert(out(3).getLong(2) == m13)

    val m14 = micros(Seq((1.1, 3.4), (1.1, 1.4), (2.1, 3.4)))
    assert(out(4).getLong(1) == 3L && out(4).getLong(2) == m14)
    assert(out(4).getDouble(3) == ceOf(m14, 3))
  }

  test("minCount prunes gram rows but never context totals") {
    val lm = LangModel.fit(ref, "text", n = 3, minCount = 2L)
    // only "a b c" (cnt 2) survives the prune; contexts stay {a b:3, b a:1}
    assert(lm.grams.count() == 1)
    val out = LangModel.crossEntropy(
        Seq((1L, "a b a b c")).toDF("id", "text"), "id", "text", lm, 0.1)
      .select("logprob_micros").head().getLong(0)
    // pruned grams score as unseen (cnt 0) against UNPRUNED denominators
    assert(out == micros(Seq((0.1, 3.4), (0.1, 1.4), (2.1, 3.4))))
  }

  test("pplBucket cuts at the literal thresholds, NULL-safe") {
    val out = Seq(Some(1.0), Some(3.0), Some(5.9), Some(6.0), None)
      .toDF("ce")
      .select(LangModel.pplBucket(col("ce"), 3.0, 6.0).as("b"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("head"), Some("middle"), Some("middle"),
      Some("tail"), None))
  }
}
