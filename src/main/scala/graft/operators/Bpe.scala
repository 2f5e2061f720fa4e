package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{TextFunctions, TextKernels}

/** BPE merge learning (Sennrich et al. 2016) — the actual
  * tokenizer-training step the t51 vocabulary statistics are the
  * precursor for: represent every distinct word as a character symbol
  * sequence, repeatedly count adjacent symbol pairs weighted by word
  * frequency, merge the most frequent pair corpus-wide, and record
  * the learned rule table.
  *
  * Scale shape: two steps, split where the data size changes.
  *  1. Distributed: the corpus reduces ONCE to word frequencies — the
  *     only corpus-sized work, one map-side-combined aggregate,
  *     collected once.
  *  2. Driver: the merge loop runs over the collected (word, freq)
  *     rows. Each round counts weighted adjacent pairs, picks the
  *     winner and applies it to every word with
  *     [[TextKernels.bpeMergeApply]], the kernel [[encode]] runs through
  *     [[graft.functions.BpeMergeExpr]]. A round is vocabulary-sized
  *     (31 words at every test scale), so Spark jobs per round would
  *     pay the per-job floor and a fresh plan for no data: 12 rounds
  *     as jobs cost ~50 jobs and ~10 s cold, the census alone 3 jobs.
  *
  * Design limit: driver memory holds one row per distinct word (its
  * symbol array and frequency) — the same state a tokenizer trainer
  * keeps; the corpus itself never leaves the executors.
  */
object Bpe {

  /** Learn `numMerges` merge rules from the corpus (lowercase
    * whitespace tokenization — the shared corpus contract). Output,
    * one row per learned rule in order:
    * (step, left, right, merged, pair_count, applied, residual_pairs)
    * where `pair_count` is the weighted adjacent-pair count that won
    * the round (ties broken (count desc, left, right), strings in
    * UTF-8 byte order — Spark's string order — so any engine
    * replaying the rule sequence picks the same rules), `applied` is
    * the weighted number of merges actually performed (overlapping
    * runs like "a a a" count 2 pairs but merge once — so applied ≤
    * pair_count), and `residual_pairs` is the weighted count of
    * (left, right) adjacencies REMAINING in the kernel's output —
    * exactly 0 by the merge-apply contract, which the t55 audit gate
    * enforces. Symbols are code points (`substring(w, i, 1)`), so a
    * supplementary character is one symbol. Stops early if the
    * vocabulary runs out of adjacent pairs (0 rows for an empty corpus
    * or one of one-character words).
    */
  def learnMerges(docs: DataFrame, textCol: String,
                  numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = filter(TextDedup.tokens(col(textCol)), x => length(x) > 0)
    val vocab = docs.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .collect()
    val freqs = vocab.map(_.getLong(1))
    var words: Array[ArrayData] = vocab.map { r =>
      val w = UTF8String.fromString(r.getString(0))
      new GenericArrayData(Array.tabulate[AnyRef](w.numChars)(
        i => w.substring(i, i + 1))): ArrayData
    }
    def pairs(syms: ArrayData)(f: (UTF8String, UTF8String) => Unit): Unit =
      (0 until syms.numElements() - 1).foreach { i =>
        f(syms.getUTF8String(i), syms.getUTF8String(i + 1))
      }
    // (count desc, left asc, right asc), strings compared as UTF-8 bytes
    val utf8: Ordering[UTF8String] = (a, b) => a.binaryCompare(b)
    val winnerFirst = Ordering.by[((UTF8String, UTF8String), Long), Long](-_._2)
      .orElseBy(_._1._1)(utf8).orElseBy(_._1._2)(utf8)
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long, Long, Long)]
    var exhausted = false
    while (rules.size < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(UTF8String, UTF8String), Long]
      words.indices.foreach { k =>
        pairs(words(k)) { (a, b) =>
          counts((a, b)) = counts.getOrElse((a, b), 0L) + freqs(k)
        }
      }
      exhausted = counts.isEmpty
      if (!exhausted) {
        val ((l, r), c) = counts.min(winnerFirst)
        val merged = words.map(TextKernels.bpeMergeApply(_, l, r))
        var applied = 0L
        var residual = 0L
        words.indices.foreach { k =>
          applied += freqs(k) *
            (words(k).numElements() - merged(k).numElements())
          pairs(merged(k)) { (a, b) =>
            if (a == l && b == r) residual += freqs(k)
          }
        }
        words = merged
        rules += ((rules.size + 1, l.toString, r.toString,
          l.toString + r.toString, c, applied, residual))
      }
    }
    // one partition: ordering the rule table by step (t55, t68) is then
    // an in-partition sort, not a sampled range shuffle of 3 jobs
    rules.toSeq.toDF("step", "left", "right", "merged", "pair_count",
      "applied", "residual_pairs").coalesce(1)
  }

  /** ENCODE (the apply step [[learnMerges]] trains for): tokenize each
    * document, split every token into character symbols, and apply the
    * learned merge rules IN ORDER — one [[graft.functions.BpeMergeExpr]]
    * kernel pass per rule, nested inside a per-token `transform`, so
    * the whole encode is a single shuffle-free projection over the
    * corpus regardless of rule count (rules are vocabulary-sized
    * driver state, exactly like the k-means centroid literals).
    *
    * Output per document: symbol/word/char counts, the compression
    * ratio tokenizer reports quote (chars per BPE symbol), and
    * `roundtrip_ok` — whether the concatenated encoded symbols
    * reproduce the concatenated tokens EXACTLY. Merges only ever glue
    * adjacent symbols of one token, so a correct encoder can never
    * fail this; the t68 gate enforces zero violations, which is what
    * justifies the rows-only driver record (replaying every merge pass
    * in SQL is not reasonably expressible).
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             rules: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.Column
    val toksCol = filter(TextDedup.tokens(col(textCol)), x => length(x) > 0)
    val charsOf = (t: Column) =>
      transform(sequence(lit(1), length(t)), i => t.substr(i, lit(1)))
    var enc: Column = transform(toksCol, t => charsOf(t))
    rules.foreach { case (l, r) =>
      enc = transform(enc, s => TextFunctions.bpe_merge(s, l, r))
    }
    docs.select(col(idCol), toksCol.as("toks"), enc.as("enc"))
      .select(col(idCol),
        size(col("toks")).as("n_words"),
        aggregate(transform(col("toks"), t => length(t)), lit(0),
          (a, x) => a + x).as("n_chars"),
        size(flatten(col("enc"))).as("n_bpe_tokens"),
        (array_join(flatten(col("enc")), "") ===
          array_join(col("toks"), "")).as("roundtrip_ok"))
      .withColumn("compression",
        round(col("n_chars") / col("n_bpe_tokens"), 6))
  }

  // ---- rule persistence ---------------------------------------------------
  //
  // Merge rules are the MODEL a BPE training run exists to produce;
  // until round 11 they lived only as driver state inside one session
  // (the t103 IVF-PQ index made the same move a round earlier). The
  // saved form is a plain parquet relation — browsable, joinable,
  // versionable like any other table — and loading VALIDATES the
  // merge-apply contract before a single document is encoded, so a
  // truncated or hand-edited rule table fails loudly at load, not as
  // silently-wrong encodes.

  /** Persist a [[learnMerges]] output as a parquet rule table (tiny —
    * one row per rule — so one file). */
  def saveRules(rules: DataFrame, path: String): Unit =
    rules.orderBy(col("step")).coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Load a persisted rule table and return the ordered (left, right)
    * list [[encode]] takes. Validation: non-empty, steps contiguous
    * from 1, merged = left || right, residual_pairs = 0 on every row
    * (the learn-time merge-apply contract, re-checked at load).
    */
  def loadRules(spark: org.apache.spark.sql.SparkSession,
                path: String): Seq[(String, String)] = {
    val rows = spark.read.parquet(path)
      .select(col("step"), col("left"), col("right"), col("merged"),
        col("residual_pairs"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"empty BPE rule table at $path")
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i + 1,
        s"rule steps not contiguous at $path: saw ${r.getInt(0)}, " +
        s"expected ${i + 1}")
      val (l, m) = (r.getString(1), r.getString(3))
      require(l != null && r.getString(2) != null && l.nonEmpty &&
        r.getString(2).nonEmpty, s"null/empty rule at step ${i + 1}")
      require(m == l + r.getString(2),
        s"merged != left||right at step ${i + 1} in $path")
      require(r.getLong(4) == 0L,
        s"residual_pairs != 0 at step ${i + 1} in $path — " +
        "not a completed learnMerges output")
    }
    rows.map(r => (r.getString(1), r.getString(2))).toSeq
  }
}
