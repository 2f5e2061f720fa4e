package graft.operators

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learnMerges: hand-computed rule sequence, early exhaustion") {
    // word freqs: abab ×3, abc ×2
    // step 1: (a,b) = 3·2 + 2·1 = 8 → abab=[ab,ab], abc=[ab,c]
    // step 2: (ab,ab) = 3 beats (ab,c) = 2
    // step 3: (ab,c) = 2; then no pairs remain → stops at 3 of 10
    val docs = Seq("abab abab abc", "abab abc").toDF("text")
    val got = Bpe.learnMerges(docs, "text", numMerges = 10)
      .orderBy($"step")
      .as[(Int, String, String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1, "a", "b", "ab", 8L, 8L, 0L),
      (2, "ab", "ab", "abab", 3L, 3L, 0L),
      (3, "ab", "c", "abc", 2L, 2L, 0L)))
  }

  test("learnMerges: overlapping runs count pairs but merge non-overlapping") {
    // "aaa" has TWO (a,a) pairs but a left-to-right pass merges ONE:
    // applied < pair_count, and no (a,a) adjacency survives ([aa, a])
    val docs = Seq("aaa").toDF("text")
    val got = Bpe.learnMerges(docs, "text", numMerges = 1)
      .as[(Int, String, String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1, "a", "a", "aa", 2L, 1L, 0L)))
  }

  test("learnMerges: equal counts tie-break by (left, right) ascending") {
    val docs = Seq("xy zw").toDF("text")
    val got = Bpe.learnMerges(docs, "text", numMerges = 1)
      .as[(Int, String, String, String, Long, Long, Long)].collect().head
    assert((got._2, got._3) == (("x", "y"))) // (x,y) < (z,w)
    intercept[IllegalArgumentException] {
      Bpe.learnMerges(docs, "text", numMerges = 0)
    }
  }

  private type Rule = (Int, String, String, String, Long, Long, Long)
  private val ruleSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("left", StringType), StructField("right", StringType),
      StructField("merged", StringType),
      StructField("pair_count", LongType, nullable = false),
      StructField("applied", LongType, nullable = false),
      StructField("residual_pairs", LongType, nullable = false)))
  }

  test("learnMerges: the 12-rule sf0.01 census, all seven columns pinned") {
    // the rule table t55/t68/t250 share; the literals are the output
    // of the round-per-job learner, so the driver loop must match it
    val got = Bpe.learnMerges(
        graft.Tables.documents(spark, "/root/testdata/sf0.01"), "text", 12)
      .orderBy($"step").as[Rule].collect().toSeq
    assert(got == Seq(
      (1, "e", "r", "er", 4568L, 4568L, 0L),
      (2, "i", "n", "in", 2760L, 2760L, 0L),
      (3, "o", "w", "ow", 2747L, 2747L, 0L),
      (4, "o", "r", "or", 2696L, 2696L, 0L),
      (5, "s", "t", "st", 2676L, 2676L, 0L),
      (6, "m", "er", "mer", 1852L, 1852L, 0L),
      (7, "a", "t", "at", 1845L, 1845L, 0L),
      (8, "l", "u", "lu", 1831L, 1831L, 0L),
      (9, "a", "r", "ar", 1758L, 1758L, 0L),
      (10, "p", "ar", "par", 1758L, 1758L, 0L),
      (11, "j", "o", "jo", 964L, 964L, 0L),
      (12, "jo", "in", "join", 964L, 964L, 0L)))
  }

  test("learnMerges: a supplementary character is ONE symbol") {
    // U+1F600 is two UTF-16 chars but one code point: split by code
    // point, "😀😀" is the single pair (😀, 😀), never (\uD83D, \uDE00).
    // (😀, a) ties (😀, 😀) at 1 and wins on right = "a"
    val smile = "\uD83D\uDE00"
    val got = Bpe.learnMerges(Seq(s"$smile$smile ${smile}a").toDF("text"),
        "text", numMerges = 3)
      .orderBy($"step").as[Rule].collect().toSeq
    assert(got == Seq(
      (1, smile, "a", s"${smile}a", 1L, 1L, 0L),
      (2, smile, smile, smile + smile, 1L, 1L, 0L)))
  }

  test("learnMerges: ties order strings by UTF-8 bytes, not UTF-16 chars") {
    // U+FF21 lowercases to U+FF41 (EF BD 81 in UTF-8); U+1F600 is
    // F0 9F 98 80. UTF-8 puts U+FF41 first; UTF-16 would put U+1F600
    // first (surrogate D83D < FF41). Spark's string order is UTF-8's
    val got = Bpe.learnMerges(Seq("\uFF21x \uD83D\uDE00x").toDF("text"),
        "text", numMerges = 1)
      .as[Rule].collect().toSeq
    assert(got == Seq((1, "\uFF41", "x", "\uFF41x", 1L, 1L, 0L)))
  }

  test("learnMerges: empty corpus and one-character words learn 0 rules " +
       "with the full schema") {
    assert(Bpe.learnMerges(Seq("ab").toDF("text"), "text", 1).schema ==
      ruleSchema)
    val empty = Bpe.learnMerges(Seq.empty[String].toDF("text"), "text", 3)
    assert(empty.schema == ruleSchema)
    assert(empty.collect().isEmpty)
    val single = Bpe.learnMerges(
      Seq("a b c", "a  \uD83D\uDE00", "", null).toDF("text"), "text", 3)
    assert(single.schema == ruleSchema)
    assert(single.collect().isEmpty)
    intercept[IllegalArgumentException] {
      Bpe.learnMerges(Seq.empty[String].toDF("text"), "text", numMerges = 0)
    }
  }

  test("bpe_merge column: left-to-right non-overlapping application") {
    val got = Seq(Seq("a", "b", "a", "b", "b")).toDF("syms")
      .select(graft.functions.TextFunctions.bpe_merge($"syms", "a", "b").as("m"))
      .as[Seq[String]].collect().head
    assert(got == Seq("ab", "ab", "b"))
  }

  test("bpe_merge column: null symbols pass through unmerged") {
    val got = Seq(Seq("a", null, "a", "b")).toDF("syms")
      .select(graft.functions.TextFunctions.bpe_merge($"syms", "a", "b").as("m"))
      .as[Seq[String]].collect().head
    assert(got == Seq("a", null, "ab"))
  }

  test("encode: hand-checked merges, counts, and roundtrip") {
    val docs = Seq((1L, "abab ab"), (2L, "xyz")).toDF("doc_id", "text")
    // rules in order: (a,b) → "ab"; ("ab","ab") → "abab"
    val out = Bpe.encode(docs, "doc_id", "text",
        rules = Seq(("a", "b"), ("ab", "ab")))
      .select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens",
              $"roundtrip_ok")
      .as[(Long, Int, Int, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1: "abab" → a b a b → ab ab → abab (1 sym); "ab" → ab (1 sym)
    assert(out(1L) == ((2, 6, 2, true)))
    // doc 2: no rule applies → 3 char symbols
    assert(out(2L) == ((1, 3, 3, true)))
  }

  test("encode with rules learned by learnMerges roundtrips a real slice") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val rules = Bpe.learnMerges(docs, "text", numMerges = 6)
      .orderBy($"step").select($"left", $"right")
      .as[(String, String)].collect().toSeq
    assert(rules.nonEmpty)
    val enc = Bpe.encode(docs, "doc_id", "text", rules)
    val bad = enc.filter(!$"roundtrip_ok" ||
      $"n_bpe_tokens" > $"n_chars" || $"n_words" > $"n_bpe_tokens").count()
    assert(bad == 0L)
    // merges actually compress: total symbols strictly under total chars
    import org.apache.spark.sql.functions.sum
    val (syms, chars) = enc.agg(sum($"n_bpe_tokens"), sum($"n_chars"))
      .as[(Long, Long)].head()
    assert(syms < chars)
  }

  test("saveRules/loadRules: parquet roundtrip returns the ordered rule " +
       "list; validation rejects truncated or edited tables") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val rules = Bpe.learnMerges(docs, "text", numMerges = 5)
    val dir = java.nio.file.Files.createTempDirectory("bpe_rules").toString
    Bpe.saveRules(rules, s"$dir/rules")
    val loaded = Bpe.loadRules(spark, s"$dir/rules")
    val fresh = rules.orderBy($"step").select($"left", $"right")
      .as[(String, String)].collect().toSeq
    assert(loaded == fresh)
    // encode parity: loaded rules produce bit-identical rows
    val a = Bpe.encode(docs, "doc_id", "text", fresh).collect().toSeq
    val b = Bpe.encode(docs, "doc_id", "text", loaded).collect().toSeq
    assert(a == b)
    // a gap in the step sequence fails at load, not at encode time
    rules.filter($"step" =!= 2).write.mode("overwrite")
      .parquet(s"$dir/gap")
    intercept[IllegalArgumentException] { Bpe.loadRules(spark, s"$dir/gap") }
    // a vandalized merged column fails the contract check
    rules.withColumn("merged",
        org.apache.spark.sql.functions.lit("zz"))
      .write.mode("overwrite").parquet(s"$dir/bad")
    intercept[IllegalArgumentException] { Bpe.loadRules(spark, s"$dir/bad") }
  }
}
