package graft.text

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Byte-pair-encoding merge training over the corpus — the actual
  * tokenizer-training loop of the GPT-2/LLaMA lineage (Sennrich et al.
  * 2016), distributed: each round counts adjacent symbol pairs across
  * the weighted word vocabulary, takes the most frequent pair as the
  * next merge, and rewrites the vocabulary with that pair fused.
  *
  * Scale shape: the corpus is scanned ONCE into `(word, count)` — all
  * rounds run over the aggregated vocabulary (|vocab| ≪ corpus, the
  * standard trainer trick), so a round costs one explode + keyed
  * aggregation over vocab plus a 1-row driver action (the argmax). The
  * symbol rewrite is a per-word Catalyst fold (left-to-right greedy,
  * the BPE application order); rounds run on [[graft.Blocks.rounds]],
  * seeded with the vocabulary, so k rounds never stack k plans.
  * Production trainers run 30k+ merges and update pair counts
  * incrementally (only words containing the merged pair change) — the
  * recount here is the clear-correctness form; its per-round cost is
  * O(|vocab|·avg_len), corpus-independent.
  *
  * Determinism: ties on pair count break lexicographically, so the
  * merge table is stable across partitionings and engines.
  */
object Bpe {

  /** Train `numMerges` merges; returns `(rank, left, right)` — rank is
    * the merge order, `left + right` the fused symbol. Stops early (and
    * returns fewer rows) if the vocabulary runs out of adjacent pairs.
    */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"need numMerges >= 1, got $numMerges")
    val spark = docs.sparkSession
    import TextStats.tokens
    val loop = graft.Blocks.rounds(spark)
    // the initial vocab agg explodes every token and char-splits every
    // word in the scan task — spread an under-parallel scan (guide §2.2)
    var vocab = loop.advance(graft.Tables.spread(docs, textCol)
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(split(col("w"), "").as("syms"), col("cnt")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      // adjacent pair counts: position-explode with the pair read AFTER
      // the Generate (the InferFiltersFromGenerate discipline)
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(col("cnt"), col("syms"),
          explode(sequence(lit(1), size(col("syms")) - 1)).as("__i"))
        .select(element_at(col("syms"), col("__i")).as("l"),
          element_at(col("syms"), col("__i") + 1).as("r"), col("cnt"))
        .groupBy("l", "r").agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += ((l, r))
        // greedy left-to-right fuse: get() (not element_at) so the empty
        // accumulator probes null instead of an ANSI index error
        val fused = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, x) => when(
            get(acc, size(acc) - 1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(x))))
        vocab = loop.advance(vocab.select(fused.as("syms"), col("cnt")))
      }
    }
    loop.close()
    val rows = merges.toSeq.zipWithIndex.map { case ((l, r), i) =>
      Row(i.toLong, l, r)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("rank", LongType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false))))
  }

  /** Apply a trained merge table to text: tokenize, then fuse each
    * word's symbols by replaying the merges in rank order — the encode
    * half (minus the id lookup). Map-only; the merge table rides the
    * plan as literals (it is vocabulary-sized, bounded by `numMerges`).
    */
  def segment(docs: DataFrame, idCol: String, textCol: String,
              merges: Seq[(String, String)]): DataFrame = {
    import TextStats.tokens
    val word = col("__w")
    val fusedAll = merges.foldLeft(split(word, ""): org.apache.spark.sql.Column) {
      case (syms, (l, r)) =>
        aggregate(syms, array().cast("array<string>"),
          (acc, x) => when(
            get(acc, size(acc) - 1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(x))))
    }
    docs.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .filter(length(word) > 0)
      .select(col(idCol), word.as("word"), fusedAll.as("pieces"))
  }
}
