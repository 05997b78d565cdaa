package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the
  * train-your-own-tokenizer pass of a large-scale pipeline. The reference
  * engine has no tokenizer training (its string helpers stop at
  * split/regex, reference: src/updater/tera.rs); this is part of the
  * LLM-data surface the library adds.
  *
  * Scale shape (the 100 TB contract):
  * - The corpus is read ONCE: `wordFreqs` is one two-phase groupBy to the
  *   word-frequency table. Everything after runs on that VOCAB-sized
  *   table (millions of rows at web scale, never the corpus).
  * - Each merge iteration is one two-phase pair-count aggregation over
  *   the symbol table (map-side partials on the (a, b) key) + a
  *   TakeOrdered(1) argmax — only the winning pair reaches the driver
  *   (the trainCentroids small-model contract). The per-iteration
  *   rewrite is a pure map; `localCheckpoint` cuts the growing lineage.
  * - Ties break deterministically: highest count, then (a, b)
  *   lexicographic — training is reproducible run-to-run and
  *   partitioning-independent.
  * - Encoding rides [[graft.plans.BpeEncode]], a native expression that
  *   replays the merge list per word — embarrassingly parallel, no state.
  *
  * Symbols are per-character (Unicode code points as 1-char strings) plus
  * the classic `</w>` end-of-word marker; a merge of (a, b) rewrites
  * every adjacent occurrence left-to-right in one greedy pass — the
  * fold's (merged-symbol, next) pairing matches the paper's single-pass
  * semantics, and [[graft.plans.BpeEncode]] replays the identical pass
  * order, so train-time and encode-time segmentations agree exactly.
  */
object Bpe {

  /** One corpus pass: (word, cnt) frequency table over lowercased
    * whitespace tokens (the qTopTerms tokenization convention). */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Initial symbol sequence of a word: characters + `</w>`. The empty
    * word maps to just the marker (Spark's `split("", "")` yields [""];
    * the filter keeps the empty word's symbols = ["</w>"], matching the
    * encoder and the oracle's range-over-length form). */
  def charSyms(word: Column): Column =
    concat(filter(split(word, ""), _ =!= lit("")), array(lit("</w>")))

  /** Weighted adjacent-pair counts over a (syms, cnt) symbol table —
    * ONE two-phase groupBy on the (a, b) pair key. */
  def pairCounts(words: DataFrame): DataFrame = {
    val pairs = transform(sequence(lit(0), size(col("syms")) - 2),
      i => struct(element_at(col("syms"), i + 1).as("a"),
        element_at(col("syms"), i + 2).as("b")))
    words.filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(pairs).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** One greedy left-to-right merge pass of (a, b) over a symbol array —
    * the column form of the pass [[graft.plans.BpeEncode]] replays. */
  def mergePass(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Train `numMerges` BPE merges over the corpus. Returns the ranked
    * merge list (apply in order to encode). Stops early if the symbol
    * table runs out of adjacent pairs (tiny corpora). */
  def train(docs: DataFrame, textCol: String, numMerges: Int)
      : Seq[(String, String)] = CacheOps.holding { h =>
    // Each merge's symbol table is a local checkpoint held by `h`: the
    // result is a driver-side Seq, so every checkpoint is released once
    // its successor has materialized, and the last on return (or all of
    // them, if a merge pass throws).
    var words = h.checkpoint(wordFreqs(docs, textCol)
      .select(charSyms(col("word")).as("syms"), col("cnt")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val top = pairCounts(words)
        .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val next = h.checkpoint(
          words.select(mergePass(col("syms"), a, b).as("syms"), col("cnt")))
        h.release(words)
        words = next
      }
    }
    merges.toSeq
  }

  /** Encode a text column with a trained merge list: lowercased
    * whitespace words → per-word subword tokens, concatenated in order.
    * Null text → null. */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    graft.plans.Native.bpeEncode(TextAnalysis.tokens(lower(text)), merges)
}
