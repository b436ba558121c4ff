package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Distributed byte-pair-encoding merge training — the tokenizer-side
  * operator of a training-data pipeline (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units").
  *
  * Scale shape (the 100 TB design): BPE training never iterates over the
  * corpus. ONE corpus pass builds the word-frequency table (vocab-sized —
  * orders of magnitude smaller than the corpus, the classic trainer state);
  * every merge round is then one pair-count aggregation over that table
  * (shuffle keyed on symbol pairs) plus a map-only literal-replace of the
  * winning pair. The per-round `limit(1).collect()` is a bounded model
  * artifact (one row per round, like the IVF centroid pull), never a
  * corpus collect.
  *
  * Determinism contract (what makes the rounds oracle-replayable):
  *  - words = maximal `[a-z]+` runs of `lower(text)`; symbol sequence =
  *    space-joined characters + a final `</w>` word-end marker.
  *  - winning pair per round = max count, ties broken by (x ASC, y ASC).
  *  - merge application = LITERAL space-delimited replace of ` x y ` with
  *    ` xy ` run twice (two passes reach the non-overlapping fixpoint:
  *    any occurrence pass 1 skips lost only its leading space to the
  *    previous match, so pass 2's occurrences are disjoint). For chains of
  *    a repeated symbol (`a a a a`) this keeps the LEFTMOST-match rule of
  *    string replace, which can differ from tokenwise greedy scan by one
  *    alignment — a documented divergence; both engines run the identical
  *    procedure, so every round's counts replay bit-for-bit.
  */
object Bpe {
  /** One corpus pass → the trainer state: (word, n, seq). */
  def wordFrequencies(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("seq",
        concat(trim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" </w>")))

  /** Weighted adjacent-pair counts over the word table. Sequences reduced
    * to a single symbol no longer contribute pairs. */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("n"), split(col("seq"), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS x, a[i + 1] AS y))")).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(sum(col("n")).as("cnt"))

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Map-only merge of the winning pair: two literal replace passes over
    * the space-padded sequence (see the determinism contract above). */
  def applyMerge(words: DataFrame, x: String, y: String): DataFrame = {
    val pat = sqlLit(s" $x $y ")
    val rep = sqlLit(s" $x$y ")
    words.withColumn("seq", expr(
      s"trim(replace(replace(concat(' ', seq, ' '), $pat, $rep), $pat, $rep))"))
  }

  /** Default per-Spark-round batch for [[train]]: 64 symbol-disjoint
    * merges per pair-count job. Measured (tools/BpeCurve, r13): ~2.5x
    * per-round speedup and job count ÷ batch vs sequential — at a
    * production 32k-merge vocab the sequential trainer's 32k driver-looped
    * jobs ARE the wall, not corpus size. */
  val DefaultBatch = 64

  /** THE production trainer (default tier): [[learnMergesBatched]] at
    * [[DefaultBatch]]. The sequential [[learnMerges]] stays as the
    * declared oracle/truth form (the tokenize_bpe* rows replay it in
    * DuckDB round-for-round) and as the batch=1 byte-identical pin in
    * BpeSpec; callers that don't need the canonical sequential schedule
    * should come through here. */
  def train(words0: DataFrame, rounds: Int,
            batch: Int = DefaultBatch): (Seq[(Int, String, String, Long)], DataFrame) =
    learnMergesBatched(words0, rounds, batch)

  /** Learned merge table for `rounds` rounds: (round, x, y, merged, cnt),
    * plus the final word table (input to [[vocabCounts]] / a corpus
    * re-encode). Stops early if the pair space drains (tiny corpora). */
  def learnMerges(words0: DataFrame, rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // pin the corpus pass; each round's table is vocab-sized, so the
    // per-round pin is one small materialization, not a corpus write
    var words = Pin.truncate(words0)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var drained = false
    while (r <= rounds && !drained) {
      val top = pairCounts(words)
        .orderBy(desc("cnt"), asc("x"), asc("y")).limit(1).collect()
      if (top.isEmpty) drained = true
      else {
        val (x, y, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((r, x, y, cnt))
        words = Pin.truncate(applyMerge(words, x, y))
        r += 1
      }
    }
    (out.result(), words)
  }

  /** Batched merge training — the round-count wall breaker. [[learnMerges]]
    * runs ONE Spark job per merge; a production 32k-merge vocab means 32k
    * tiny driver-looped jobs over the vocab-sized table, and round COUNT,
    * not corpus size, becomes the wall. The standard trick (used by every
    * at-scale BPE trainer): per Spark round, take the top candidates of
    * ONE pair-count job and greedily apply every candidate that does not
    * CONFLICT with one already chosen this round, where conflict means
    * sharing a symbol (x, y, or the merged string) with an earlier pick —
    * disjoint-symbol merges provably commute (a merge can neither create
    * nor destroy adjacencies of symbols it does not touch), so each
    * applied pair's occurrences are exactly its snapshot occurrences and
    * the merge table stays a valid encoder schedule. Job count drops from
    * `rounds` to ~`rounds / batch`.
    *
    * Divergence contract vs the sequential trainer: with batch = 1 the
    * schedule is BYTE-IDENTICAL to [[learnMerges]] (pinned in BpeSpec).
    * With batch > 1 the schedule may differ from sequential after any
    * round whose merge would have promoted a derived pair (e.g. (ab,</w>)
    * right after (a,b)) above the batch's next snapshot candidate — the
    * recorded `cnt` is the snapshot count, exact for every applied pair.
    * The oracle rows stay on the sequential form; this is the documented
    * production path. */
  def learnMergesBatched(words0: DataFrame, rounds: Int,
                         batch: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    var words = Pin.truncate(words0)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var done = 0
    var drained = false
    while (done < rounds && !drained) {
      val want = math.min(batch, rounds - done)
      // 4x headroom so conflict-skips rarely starve the batch; the pull
      // is top-k of a vocab-sized aggregate, bounded model state
      val cands = pairCounts(words)
        .orderBy(desc("cnt"), asc("x"), asc("y"))
        .limit(want * 4).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cands.isEmpty) drained = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val picked = Seq.newBuilder[(String, String, Long)]
        var k = 0
        val it = cands.iterator
        while (k < want && it.hasNext) {
          val (x, y, c) = it.next()
          if (!used(x) && !used(y) && !used(x + y)) {
            picked += ((x, y, c)); used ++= Seq(x, y, x + y); k += 1
          }
        }
        val sel = picked.result()
        if (sel.isEmpty) drained = true
        else {
          sel.foreach { case (x, y, c) =>
            done += 1
            out += ((done, x, y, c))
            words = applyMerge(words, x, y)
          }
          // one pin per BATCH, not per merge — the chained literal
          // replaces stay a single map-only stage
          words = Pin.truncate(words)
        }
      }
    }
    (out.result(), words)
  }

  /** The learned merges as a DataFrame, schema (round, x, y, merged, cnt). */
  def mergesDf(spark: SparkSession, merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.map { case (r, x, y, c) => (r, x, y, x + y, c) }
      .toDF("merge_round", "x", "y", "merged", "cnt")
  }

  /** Weighted symbol frequencies of an encoded word table — the vocab the
    * merges produced (top-k callers order by (total DESC, symbol)). */
  def vocabCounts(words: DataFrame): DataFrame =
    words
      .select(col("n"), explode(split(col("seq"), " ")).as("symbol"))
      .groupBy("symbol").agg(sum(col("n")).as("total"))

  /** Corpus tokenization under the learned merges: per document, the word
    * count and the BPE token count (Σ symbols of each word occurrence).
    * The classic train→tokenize step in its 100 TB shape — the vocab-sized
    * merged word table BROADCASTS to one corpus explode+join pass; the
    * only shuffle is the per-doc aggregation. */
  def encodeTokenCounts(docs: DataFrame, words: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(words.select(col("word"),
        size(split(col("seq"), " ")).cast("long").as("_n_sym"))), "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_n_sym")).as("bpe_tokens"))
}
