package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Distributed BPE-style merge learning over word tokens — tokenizer
  * vocabulary induction, the tokenizer-side operator of a training-data
  * pipeline (the reference has nothing comparable; this is the
  * `text_bpe_tokens` surface extended from *applying* a fixed tokenizer to
  * *learning* one from the corpus).
  *
  * Algorithm (word-level BPE, Sennrich et al. 2016 shape): sequences start
  * as each document's whitespace tokens; each round counts adjacent symbol
  * pairs across the corpus, picks the most frequent pair (ties break
  * lexicographically; pairs below count 2 stop the learning), and rewrites
  * every sequence with the pair merged greedy-left-to-right. After R
  * rounds the merge table IS the learned vocabulary extension — multi-word
  * units ("machine learning", "new york") ranked by corpus frequency.
  *
  * Merge application is a SINGLE-PASS string replace over a
  * double-separator encoding: each symbol is wrapped `␟sym␟` and the
  * sequence is their concatenation, so the pair pattern `␟a␟␟b␟` can only
  * match at true symbol boundaries, consecutive matches never share a
  * separator, and one non-overlapping left-to-right `replace` implements
  * greedy BPE merging exactly. Both engines' `replace` scans
  * left-to-right non-overlapping, which is what makes the DuckDB oracle
  * (same encoding, R unrolled CTE rounds) reproduce every sequence
  * bit-for-bit. Tokens containing the separator (U+001F) or empty tokens
  * are filtered identically on both sides.
  *
  * Scale: each round is ONE pair-count aggregate (shuffle keyed on the
  * pair) + one narrow string-rewrite pass; driver state is the merge
  * list (R rows — the Lloyd-centroid pattern). Sequences persist per
  * round and the previous round unpersists, so lineage stays one
  * projection deep regardless of R. Nothing is quadratic; the corpus is
  * touched 2R times, the price of an inherently iterative algorithm. */
object BpeLearn {

  private val Sep = "\u001f"
  private val SepSep = Sep + Sep

  /** (doc_id, s): sequences in wrapped-string form. */
  private def initialSeqs(docs: DataFrame): DataFrame = {
    val toksF = filter(TextOps.tokens(col("text")),
      t => t =!= "" && not(t.contains(Sep)))
    docs.select(col("doc_id"), toksF.as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        concat_ws("", transform(col("toks"),
          t => concat(lit(Sep), t, lit(Sep)))).as("s"))
  }

  private def toksOf(s: Column): Column =
    split(s.substr(lit(2), length(s) - 2), SepSep)

  /** Adjacent-pair counts of the current sequences. toks is projected
    * into its own column FIRST (the withTokens discipline): referenced
    * inline, `get(toks, i+1)` re-evaluates the split per ELEMENT —
    * O(len²) string scans per row — measured at sf0.1: 21 s → 4.7 s for
    * the 6-round learn once staged. */
  private def pairCounts(seqs: DataFrame): DataFrame =
    seqs.select(toksOf(col("s")).as("toks"))
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("cnt"))

  /** Run `rounds` merge rounds; returns (merge table rows, final seqs).
    * `hold` is the persist discipline ([[graft.operators.Curation.sharedStages]]
    * pattern): per-query callers register frames with RunHygiene for the
    * post-action drain; the session memo ([[learnShared]]) plain-persists
    * so the final sequences survive drains for later consumers. */
  private def learn(docs: DataFrame, rounds: Int,
      hold: DataFrame => DataFrame): (Seq[(Long, String, String, Long)], DataFrame) = {
    var seqs = hold(initialSeqs(docs))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var done = false
    var r = 0
    while (!done && r < rounds) {
      r += 1
      // pairs below count 2 can't compress anything: learning stops — the
      // oracle's per-round `WHERE cnt >= 2 ... LIMIT 1` goes empty at the
      // same point and its remaining rounds no-op identically
      val top = pairCounts(seqs)
        .filter(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect().headOption
      top match {
        case Some(row) =>
          val (l, rr, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((r.toLong, l, rr, cnt))
          val next = hold(seqs.withColumn("s",
            replace(col("s"),
              lit(Sep + l + Sep + Sep + rr + Sep),
              lit(Sep + l + " " + rr + Sep))))
          next.count()
          seqs.unpersist(blocking = false)
          seqs = next
        case None => done = true
      }
    }
    (merges.result(), seqs)
  }

  // The learn loop is deterministic in (docs, rounds) and THREE gates
  // (text_bpe_merges / text_bpe_apply / text_bpe_fertility) consume the
  // identical learn — each used to re-run the full 6-round loop (~12 jobs)
  // per call. A Shared entry keyed on the corpus (plan and files) and the
  // rounds: the merge table and the final sequences are computed once per
  // (session, corpus, rounds).
  private def learnShared(docs: DataFrame,
      rounds: Int): (Seq[(Long, String, String, Long)], DataFrame) =
    graft.Shared.get("bpe_learn", docs, rounds) {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val r = learn(docs, rounds,
        df => graft.RunHygiene.track(df.persist(lvl)))
      // the memoized final sequences are a localCheckpoint: frozen RDD
      // blocks no consumer's unpersist can remove (see
      // SparkEntry.checkpointed); the loop's tracked persists drain after
      // the first consuming query as usual
      (r._1, r._2.localCheckpoint(true))
    }

  /** The learned merge table: (merge_rank, left_sym, right_sym, pair_freq),
    * one row per executed round, ordered by rank. */
  def merges(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (m, _) = learnShared(docs, rounds)
    m.toDF("merge_rank", "left_sym", "right_sym", "pair_freq")
      .orderBy("merge_rank")
  }

  /** Per-document compression after the learned merges: (doc_id, n_tokens,
    * n_symbols, compression) — the coverage report a tokenizer-induction
    * run ships with its vocabulary. */
  def applied(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val (_, seqs) = learnShared(docs, rounds)
    seqs.select(col("doc_id"), col("n_tokens"),
        size(toksOf(col("s"))).as("n_symbols"))
      .withColumn("compression",
        round(col("n_symbols").cast("double") / col("n_tokens"), 4))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language — the multilingual tokenizer-audit
    * metric (public: Rust et al. 2021, "How Good is Your Tokenizer?"):
    * symbols-per-word under the learned merge table, plus chars-per-symbol
    * (the compression the token budget actually buys). A language whose
    * fertility is far above the corpus norm is being tokenized into
    * fragments — it will consume a disproportionate share of any fixed
    * token budget and train worse; this rollup is the observable that
    * drives vocab re-balancing.
    *
    * Shape: the learn/apply stages are [[applied]] (keyed pair-count
    * rollups per round, driver state = the merge table only); the audit
    * adds one doc_id-keyed join back to the documents dim and a
    * languages-sized rollup. All sums are exact integers; the two
    * readable ratios are single division chains of engine-identical
    * values. Output: one row per language. */
  def fertilityByLang(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val (_, seqs) = learnShared(docs, rounds)
    seqs.select(col("doc_id"), col("n_tokens"), size(toksOf(col("s"))).as("n_sym"))
      .join(docs.select("doc_id", "lang", "n_chars"), Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_words"),
        sum(col("n_sym")).as("n_symbols"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_symbols"),
        col("n_chars"),
        round(col("n_symbols").cast("double") / col("n_words"), 4).as("fertility"),
        round(col("n_chars").cast("double") / col("n_symbols"), 4).as("chars_per_symbol"))
      .orderBy("lang")
  }
}
