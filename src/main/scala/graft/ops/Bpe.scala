package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BpeExprs

/**
 * BPE token budgeting surface for the training-data pipeline (VERDICT
 * r07 #3 / r08 #1). The counting algorithm is the public word-level BPE
 * encode of Sennrich, Haddow & Birch 2016 — see [[graft.functions
 * .BpeExprs]] for the pinned semantics. The merge table is ALWAYS
 * user-supplied and MUST come from a public source (an open-source
 * tokenizer's published `merges.txt` / vocabulary file); the only table
 * defined here is a tiny hand-written demo vocabulary for tests and the
 * x121 planted oracle.
 *
 * Wiring into the budget operators (all take the count as a COLUMN, so
 * the BPE count drops in without touching their plans):
 *  - `Selection.budgetSelect(df, score, key, weight = Bpe.tokenCount(...))`
 *    fills a selection to N REAL tokens instead of N whitespace tokens;
 *  - `Packing.packSequences(df, key, tokens = Bpe.tokenCount(...), budget)`
 *    packs sequences by real context-window occupancy;
 *  - `Bpe.chunkByTokenBudget` replaces `Text.chunkWindows` when chunk
 *    size must be measured in tokenizer tokens (cuts only at word
 *    boundaries, never mid-word).
 *
 * Scale: the merge table rides as one foldable literal into a per-row
 * imperative expression — no shuffle, no join, no driver round-trip.
 * MEASURED at real table scale (NOTES.md, "BPE at real merge-table scale"):
 * a 50,000-merge table is ~177 KiB of literal pair bytes in the
 * serialized expression tree and ~6.9 MiB of per-thread rank map once
 * built (the IVF-centroid transport class, as claimed), encodes the
 * sf0.1 documents corpus at ~0.8 µs/char wall on local[32], and a
 * 116k-distinct-word corpus (cache capacity exceeded ~2x) costs only
 * ~23% over the cache-friendly run — the 64k clear-and-refill bound
 * degrades gracefully, it does not cliff.
 */
object Bpe {

  /** Hand-written DEMO merge table (priority order) over common English
    * letter pairs/suffixes — for tests and planted oracles only; real
    * budgets must load a real public tokenizer's merge list. */
  val demoMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("the", "</w>"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("and", "</w>"), ("e", "r"), ("er", "</w>"), ("in", "g"),
    ("ing", "</w>"), ("o", "r"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("e", "s"), ("es", "</w>"), ("o", "u"), ("s", "</w>"), ("e", "</w>"),
    ("d", "</w>"), ("t", "</w>"))

  /** Merge table as the single foldable literal the expressions expect. */
  def mergesLit(merges: Seq[(String, String)]): Column =
    typedLit(merges.map(p => Seq(p._1, p._2)))

  /** BPE token count of `text` under `merges` (INT column). */
  def tokenCount(spark: SparkSession, text: Column,
      merges: Seq[(String, String)]): Column =
    BpeExprs.bpeTokenCount(spark, text, mergesLit(merges))

  /** The token strings themselves (audit/debug surface). */
  def tokens(spark: SparkSession, text: Column,
      merges: Seq[(String, String)]): Column =
    BpeExprs.bpeTokens(spark, text, mergesLit(merges))

  /** Word-boundary chunks under a BPE token budget: array of
    * `(chunk_idx, chunk, chunk_tokens)` structs with
    * sum(chunk_tokens) == tokenCount(text). Explode with `inline`. */
  def chunkByTokenBudget(spark: SparkSession, text: Column,
      merges: Seq[(String, String)], budget: Int): Column =
    BpeExprs.bpeChunksByBudget(spark, text, mergesLit(merges), budget)

  /** Learn a merge table FROM a corpus — the distributed Sennrich,
    * Haddow & Birch 2016 learn loop (VERDICT r09 #1b), closing the
    * "a pipeline with no published merges.txt has no way to GET a merge
    * table" gap: `k` iterations, each taking the most frequent adjacent
    * symbol pair over the current segmentation of the word VOCABULARY
    * (frequency-weighted), appending it as the next merge. Ties break
    * deterministically on (count desc, left asc, right asc), and the
    * loop stops early when the best pair's frequency falls below
    * `minFrequency` (the reference algorithm's stopping rule — merging
    * singletons memorizes the corpus).
    *
    * Pair statistics are computed on the segmentation the repo's own
    * pinned greedy encode produces under the merges learned so far —
    * self-consistent by construction with the [[tokenCount]] /
    * [[tokens]] / [[chunkByTokenBudget]] encoder that will consume the
    * table (re-encoding from the rank table each round also keeps the
    * plan lineage flat: iteration i depends on the merge LIST, not on
    * iteration i-1's DataFrame).
    *
    * Scale shape: ONE corpus pass builds the `(word, count)` vocabulary
    * (a partial→final hash aggregate; the only corpus-sized stage),
    * pinned behind a lazy localCheckpoint because all k rounds consume
    * it. Each round is then a vocab-sized job: per-word re-encode (the
    * merge literal + per-thread cache), adjacent-pair explode, hash
    * aggregate, and a TakeOrderedAndProject(1) — the driver receives
    * exactly one (left, right, count) row per round. Cost is
    * O(k · vocab · avg symbols), independent of corpus size after the
    * first pass — but ONE SPARK JOB PER MERGE (measured 1.44 s/round
    * on a 116k-word vocab, NOTES.md r10), so this loop is for modest
    * k (domain vocabularies, planted oracles); for the production
    * ~50k-merge regime use [[learnMergesLocal]] — identical semantics
    * and sequence, delta-update loop, measured 0.3 ms/merge amortized
    * on a 116k-word vocab (NOTES.md, Round 11 status). */
  def learnMerges(corpus: DataFrame, k: Int, minFrequency: Long = 2,
      textCol: String = "text"): Seq[(String, String)] = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(minFrequency >= 1, s"minFrequency must be >= 1, got $minFrequency")
    val spark = corpus.sparkSession
    val vocab = corpus
      .select(explode(split(coalesce(col(textCol), lit("")),
        "[ \\t\\n\\u000B\\f\\r]+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .localCheckpoint(eager = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var go = true
    while (go && merges.length < k) {
      val toks = BpeExprs.bpeTokens(spark, col("__w"), mergesLit(merges.toSeq))
      val best = vocab
        .select(col("__n"), toks.as("__t"))
        // adjacent pairs of the symbol sequence; every word has >= 2
        // symbols (>= 1 code point + </w>), so the slices are well-formed
        .select(col("__n"), explode(zip_with(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("__n")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty || best.head.getAs[Long]("c") < minFrequency) go = false
      else merges += ((best.head.getAs[String]("l"), best.head.getAs[String]("r")))
    }
    merges.toList
  }

  /** [[learnMerges]] at PRODUCTION k (the ~50k-merge regime): the
    * per-round distributed loop is exact but costs one Spark job per
    * merge — 50k driver round-trips is the wrong shape. The shape real
    * BPE trainers use (and this implements): the CORPUS-sized work is
    * one distributed frequency-weighted vocabulary pass (capped at
    * `maxVocab` words by count — the standard learner cap; a crawl's
    * word vocab is millions of rows where the corpus is billions), and
    * the merge loop itself runs driver-side over that vocab with
    * incremental pair-count DELTA updates — only words containing the
    * chosen pair are touched per round, and candidate ordering lives
    * in a tree set, so a round costs O(occurrences · log pairs), not a
    * vocab re-scan.
    *
    * Semantics are IDENTICAL to [[learnMerges]] — same symbol
    * initialization, same (count desc, left asc, right asc) tie rule,
    * same `minFrequency` stop, same left-to-right non-overlapping
    * merge application — and BpeSpec pins equality of the two loops on
    * the planted corpus AND on real fixture text. `maxVocab` is the
    * one approximation knob (dropping singleton-tail words barely
    * moves pair counts); pass `Int.MaxValue` for exactness. Driver
    * memory at the 2^20 default cap is MEASURED (NOTES.md r11): 423 MiB
    * of initial words+pairCount+postings+candidate state, k=50000 loop
    * in ~69 s — well inside an 8 GB driver. */
  def learnMergesLocal(corpus: DataFrame, k: Int, minFrequency: Long = 2,
      maxVocab: Int = 1 << 20, textCol: String = "text"): Seq[(String, String)] = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(minFrequency >= 1, s"minFrequency must be >= 1, got $minFrequency")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val spark = corpus.sparkSession
    import spark.implicits._
    val vocab: Array[(String, Long)] = corpus
      .select(explode(split(coalesce(col(textCol), lit("")),
        "[ \\t\\n\\u000B\\f\\r]+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__w")).limit(maxVocab)
      .as[(String, Long)].collect()

    // ---- driver-side exact Sennrich loop with delta updates
    val wordCount = vocab.map(_._2)
    val words: Array[Array[String]] = vocab.map { case (w, _) =>
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b += "</w>"
      b.toArray
    }
    val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
    // postings are SPARSE sets (r11, measured): a dense BitSet's
    // capacity is the max word index it ever holds, and the merge loop
    // mints thousands of few-member pairs — at the 2^20 default cap
    // that allocated ~128 KiB per pair and OOM'd an 8 GB driver
    // (NOTES.md r11); HashSet memory follows membership, which
    // only shrinks as merges localize. Update order over postings is
    // commutative (each touched word re-encodes independently and count
    // deltas add), so the learned sequence is unchanged — BpeSpec's
    // equality and property pins hold.
    val pairWords = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    // candidate order: count desc, then (left, right) lexicographic asc
    val order = scala.collection.mutable.TreeSet
      .empty[(Long, String, String)](Ordering.Tuple3(
        Ordering.Long.reverse, Ordering.String, Ordering.String))
    def bump(p: (String, String), delta: Long): Unit = {
      val old = pairCount.getOrElse(p, 0L)
      if (old != 0L) order.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw != 0L) { pairCount(p) = nw; order.add((nw, p._1, p._2)) }
      else pairCount.remove(p)
    }
    def pairsOf(s: Array[String]): Iterator[(String, String)] =
      (0 until s.length - 1).iterator.map(i => (s(i), s(i + 1)))
    words.indices.foreach { wi =>
      pairsOf(words(wi)).foreach { p =>
        bump(p, wordCount(wi))
        pairWords.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty[Int]) += wi
      }
    }
    def mergeAll(s: Array[String], a: String, b: String): Array[String] = {
      val out = new Array[String](s.length)
      var o = 0; var i = 0
      while (i < s.length) {
        if (i < s.length - 1 && s(i) == a && s(i + 1) == b) {
          out(o) = a + b; o += 1; i += 2
        } else { out(o) = s(i); o += 1; i += 1 }
      }
      java.util.Arrays.copyOf(out, o)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val chosen = scala.collection.mutable.HashSet.empty[(String, String)]
    while (merges.length < k && order.nonEmpty && order.head._1 >= minFrequency) {
      val (cnt, a, b) = order.head
      if (chosen((a, b))) {
        // an already-ranked pair re-formed through a different symbol
        // derivation; the greedy encoder merges ranked pairs away, so
        // re-emitting it would both duplicate the table (validateMerges
        // rejects) and diverge from [[learnMerges]] — drop, don't pick
        order.remove((cnt, a, b))
      } else {
        chosen += ((a, b))
        merges += ((a, b))
        val touched = pairWords.getOrElse((a, b),
          scala.collection.mutable.HashSet.empty[Int]).toArray
        touched.foreach { wi =>
          val old = words(wi)
          val merged = mergeAll(old, a, b)
          if (merged.length != old.length) {
            pairsOf(old).foreach { p =>
              bump(p, -wordCount(wi))
              pairWords.get(p).foreach(_ -= wi)
            }
            pairsOf(merged).foreach { p =>
              bump(p, wordCount(wi))
              pairWords.getOrElseUpdate(p,
                scala.collection.mutable.HashSet.empty[Int]) += wi
            }
            words(wi) = merged
          }
        }
      }
    }
    merges.toList
  }

  /** Persist a merge table as a tiny `(rank, l, r)` parquet — the
    * durable form of a [[learnMerges]]/[[learnMergesLocal]] result (or
    * an imported public `merges.txt`): learn once, reload in every
    * later session or on every executor-side pipeline run. Rank order
    * IS the table's semantics, so it's stored explicitly rather than
    * relying on file row order. */
  def saveMerges(spark: SparkSession, merges: Seq[(String, String)],
      path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "l", "r")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveMerges]] table back in rank order. */
  def loadMerges(spark: SparkSession, path: String): Seq[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(path).orderBy("rank")
      .select(col("l"), col("r")).as[(String, String)].collect().toSeq
  }

  /** Per-group tokenizer fertility audit — tokens-per-word and
    * tokens-per-non-whitespace-char under `merges`, the number that
    * tells a curator how unevenly a tokenizer taxes each language
    * (a high-fertility language burns context window faster and is
    * under-weighted by char-budgeted selection). One row per group:
    * `(group, docs, tokens, words, fertility, tokens_per_char)`.
    *
    * Scale: a codegen'd per-row projection (the merge-table literal,
    * no join) into a partial→final aggregate keyed on the group —
    * shuffle carries groups × partitions rows, never tokens. */
  def fertility(spark: SparkSession, docs: DataFrame, groupCol: String,
      merges: Seq[(String, String)], textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col(groupCol),
        tokenCount(spark, t, merges).cast("long").as("__f_tok"),
        size(filter(split(t, "[ \\t\\n\\u000B\\f\\r]+"), w => w =!= ""))
          .cast("long").as("__f_w"),
        length(regexp_replace(t, "[ \\t\\n\\u000B\\f\\r]", ""))
          .cast("long").as("__f_c"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("docs"), sum(col("__f_tok")).as("tokens"),
        sum(col("__f_w")).as("words"), sum(col("__f_c")).as("__chars"))
      .select(col(groupCol), col("docs"), col("tokens"), col("words"),
        // a group of only empty/whitespace docs has no words (or chars):
        // its ratio is undefined, not Infinity — emit null
        when(col("words") > 0,
          Portable.r9(col("tokens").cast("double") / col("words").cast("double")))
          .as("fertility"),
        when(col("__chars") > 0,
          Portable.r9(col("tokens").cast("double") / col("__chars").cast("double")))
          .as("tokens_per_char"))
  }
}
