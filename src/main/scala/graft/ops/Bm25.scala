package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** BM25 ranked retrieval over a tokenized corpus — the scoring layer on
  * top of [[graft.ops.TextAnalysis]]'s term statistics and the
  * inverted-index posting lists (reference has no ranking engine; this is
  * the retrieval operator a training-data pipeline needs for
  * query-directed corpus slicing, e.g. "pull the 10k docs most relevant
  * to this eval prompt" — cf. `src/ingestion_pipeline/pipelines/
  * ingest_and_embed.py`'s embed-and-search flow, which this complements
  * on the lexical side).
  *
  * Scoring: classic Okapi BM25 shape with k1/b, except idf uses the
  * ODDS form (N - df + ½)/(df + ½) instead of its logarithm: `ln` is not
  * exactly specified by IEEE-754 (libm implementations differ in the last
  * ulp), while +,-,*,/ are — so with the odds form every per-term score
  * is a fixed-order arithmetic expression over exact integers, bit-equal
  * in any engine. Ranking quality: the odds form is strictly monotone in
  * the log form per term; absolute scores weight rare terms harder, which
  * for short keyword queries (the slicing use case) is benign and fully
  * deterministic. Per-term scores are quantized to 2^-20 units and summed
  * as BIGINTs, so the doc score is merge-order-free — the same
  * exact-state discipline as [[Ivf]]/[[Hll]].
  *
  * Plan shape at scale: one scan builds (doc, term, tf) + doc lengths;
  * df and the corpus constants (N, Σdl) reduce to a handful of rows
  * broadcast back; the query-term set is a broadcast semi-join, so the
  * only shuffle on the corpus is the per-doc score sum. No cross join, no
  * per-pair float vector math.
  */
object Bm25 {

  /** Quantization scale for per-term scores: 2^20 units per 1.0. */
  val ScoreScale = 1048576.0

  /** k1=1.2, b=0.75 — the standard Okapi defaults, as exact decimals. */
  val K1 = 1.2
  val B = 0.75

  /** (doc_id, term, tf, dl) from a text column: tf = term count within
    * the doc, dl = token count of the doc. One scan, one (doc,term)
    * aggregate; dl rides along via a window-free second groupBy on the
    * same shuffled data. */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r18 optimization (guide §2.4): per-document term counting is
    // document-local, so the old explode → groupBy(id, term) →
    // groupBy(id) dl → self-join chain (THREE corpus-token-scale
    // exchanges under every search-family row) collapses into one fused
    // kernel pass + explode — zero exchanges. dl = Σ tf folds over the
    // per-doc array. TermCountsSpec pins kernel ≡ the relational chain.
    docs.select(col(idCol),
      org.apache.spark.sql.graft.TermCounts(col(textCol)).as("_tc"))
      .withColumn("dl", expr("aggregate(_tc, CAST(0 AS BIGINT), (a, x) -> a + x.tf)"))
      .select(col(idCol), explode(col("_tc")).as("_t"), col("dl"))
      .select(col(idCol), col("_t.term").as("term"), col("_t.tf").as("tf"), col("dl"))
  }

  /** Top-k docs for a bag of query terms. Returns
    * (doc_id, score_q, rank) where score_q = Σ_terms
    * floor(2^20 · idf_odds · tf·(k1+1) / (tf + k1·(1−b+b·dl·N/Σdl))). */
  def search(docs: DataFrame, idCol: String, textCol: String,
             queryTerms: Seq[String], k: Int): DataFrame = {
    // tf feeds three consumers (scores, df, corpus constants) — pinned so
    // the tokenize/explode/aggregate pipeline runs ONCE, not three times
    val tf = Pin(termFrequencies(docs, idCol, textCol))
    searchWithTf(tf, idCol, queryTerms, k)
  }

  /** [[search]] over a prebuilt (pinned) tf relation — the entry point
    * for batteries like [[evalCard]] that run MANY queries against one
    * corpus: the tokenize/aggregate pass is paid once, every query is a
    * broadcast-filtered probe of the shared relation. */
  def searchWithTf(tf: DataFrame, idCol: String,
                   queryTerms: Seq[String], k: Int): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    // corpus constants: one tiny row, cross-joined (broadcast) everywhere
    val consts = tf.groupBy().agg(
      countDistinct(col(idCol)).as("n_docs"), sum(col("tf")).as("sum_dl"))
    val qt = queryTerms.distinct.toDF("term")
    // df ONLY for the query terms: filter BEFORE the df aggregate — a
    // full-vocabulary groupBy would shuffle one row per distinct corpus
    // term and throw all but |queryTerms| of them away
    val qtf = tf.join(broadcast(qt), "term")
    val df_ = qtf.groupBy(col("term")).agg(count(lit(1)).as("df")) // (doc,term) rows are unique → df
    val scored = qtf
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(consts))
      // fixed-order arithmetic over exact ints: bit-equal across engines
      .withColumn("score_term_q", expr(
        s"""cast(floor($ScoreScale *
           |  ((cast(n_docs as double) - cast(df as double) + 0.5D) / (cast(df as double) + 0.5D)) *
           |  (cast(tf as double) * ${K1 + 1.0}D) /
           |  (cast(tf as double) + ${K1}D * (${1.0 - B}D + ${B}D * cast(dl as double) * cast(n_docs as double) / cast(sum_dl as double)))
           |) as bigint)""".stripMargin))
    val byDoc = scored.groupBy(col(idCol))
      .agg(sum(col("score_term_q")).as("score_q"))
    // global top-k as TakeOrdered (orderBy.limit), NOT an unpartitioned
    // row_number window over the whole corpus (single-task sort); the
    // rank window then runs over k rows only
    val top = byDoc.orderBy(col("score_q").desc, col(idCol)).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_q").desc, col(idCol))
    top.withColumn("rank", row_number().over(w))
      .select(col(idCol), col("score_q"), col("rank"))
  }

  /** Persist the (doc, term, tf, dl) postings relation as a term-bucketed
    * table — the lexical family's persisted-index leg, completing the
    * engine's incremental symmetry (minhash/winnow/IVF/DSIR/MV all
    * maintain persisted state; retrieval should not re-tokenize the
    * corpus per batch either). Bucketing by term means a query probe's
    * broadcast-semi-joined scan prunes to the touched buckets with no
    * exchange. */
  def writeTfIndex(docs: DataFrame, idCol: String, textCol: String,
                   table: String, numBuckets: Int = 8): Unit =
    termFrequencies(docs, idCol, textCol)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(numBuckets, "term").sortBy("term")
      .format("parquet").saveAsTable(table)

  /** [[search]] over a persisted index plus an UNINDEXED increment: the
    * increment pays ONE tokenize pass over itself; the corpus side is a
    * bucketed scan of [[writeTfIndex]]'s table with no recompute. Exact
    * because tf rows are doc-keyed and the two sides are doc-disjoint by
    * contract — the union IS the full corpus's tf relation, and df / dl /
    * corpus constants all derive from it downstream (the mergeable-
    * monoid argument mv_incremental pins for aggregates, applied to
    * postings). Hash-matches a from-scratch [[search]] over the whole
    * corpus, which the oracle pins. */
  def searchIncremental(spark: org.apache.spark.sql.SparkSession, tfTable: String,
                        newBatch: DataFrame, idCol: String, textCol: String,
                        queryTerms: Seq[String], k: Int): DataFrame = {
    val indexed = spark.table(tfTable)
    val delta = termFrequencies(newBatch, idCol, textCol)
    searchWithTf(Pin(indexed.unionByName(delta)), idCol, queryTerms, k)
  }

  /** Rocchio pseudo-relevance feedback (Rocchio 1971, the classic query
    * expansion): run the query, take the top-`k0` docs as assumed-relevant,
    * mine their `expandTerms` strongest terms, and re-score with the
    * expanded weighted query. The slicing win: an eval-prompt query like
    * "spark join window" also pulls the docs that discuss shuffles and
    * partitions without naming the query words — vocabulary-mismatch
    * recall that bag-of-words alone cannot reach.
    *
    * Exactness discipline matches [[search]]: expansion weight per term is
    * Σ_seed floor(2^20 · idf_odds · tf / dl) — fixed-order double
    * arithmetic quantized to BIGINT, so top-term selection replays
    * bit-equal (ties by term asc); the final score is Σ w_t · s_t with
    * integer weights (1000 original / 750 expansion — Rocchio's α:β as
    * exact milli integers) over the same quantized per-term scores.
    *
    * Scale shape: tf is pinned once and probed by BROADCAST term sets at
    * every stage — original terms, the seed docs' candidate vocabulary
    * (bounded by k0 documents' distinct terms), and the expanded set. df
    * aggregates run only over those semi-joined slices; the corpus never
    * shuffles a full-vocabulary relation, and both rankings use
    * TakeOrdered top-k, never an unpartitioned window. */
  def rocchioSearch(docs: DataFrame, idCol: String, textCol: String,
                    queryTerms: Seq[String], k0: Int, expandTerms: Int, k: Int,
                    origWeight: Long = 1000L, expWeight: Long = 750L): DataFrame = {
    require(k0 >= 1 && expandTerms >= 0 && k >= 1,
      s"rocchioSearch needs k0/k >= 1 and expandTerms >= 0, got k0=$k0 expandTerms=$expandTerms k=$k")
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = Pin(termFrequencies(docs, idCol, textCol))
    val consts = Pin(tf.groupBy().agg(
      countDistinct(col(idCol)).as("n_docs"), sum(col("tf")).as("sum_dl"))) // one row, probed by every scoring stage
    val bmScore =
      s"""cast(floor($ScoreScale *
         |  ((cast(n_docs as double) - cast(df as double) + 0.5D) / (cast(df as double) + 0.5D)) *
         |  (cast(tf as double) * ${K1 + 1.0}D) /
         |  (cast(tf as double) + ${K1}D * (${1.0 - B}D + ${B}D * cast(dl as double) * cast(n_docs as double) / cast(sum_dl as double)))
         |) as bigint)""".stripMargin
    // weighted scoring pass: terms carries (term, w); per-doc Σ w·s
    def scored(terms: DataFrame): DataFrame = {
      val qtf = tf.join(broadcast(terms), "term")
      val df_ = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      qtf.join(broadcast(df_), "term").crossJoin(broadcast(consts))
        .withColumn("sq", expr(bmScore))
        .groupBy(col(idCol)).agg(sum(expr("w * sq")).as("score_w"))
    }
    val q0 = queryTerms.map(_.toLowerCase).distinct.toDF("term")
    val seed = scored(q0.withColumn("w", lit(1L)))
      .orderBy(col("score_w").desc, col(idCol)).limit(k0)
    val seedTf = tf.join(broadcast(seed.select(col(idCol))), idCol)
    val cand = seedTf.select(col("term")).distinct()
      .join(q0, Seq("term"), "left_anti")
    val cdf = tf.join(broadcast(cand), "term")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wexp = seedTf.join(broadcast(cdf), "term").crossJoin(broadcast(consts))
      .withColumn("wt", expr(
        s"""cast(floor($ScoreScale *
           |  ((cast(n_docs as double) - cast(df as double) + 0.5D) / (cast(df as double) + 0.5D)) *
           |  cast(tf as double) / cast(dl as double)) as bigint)""".stripMargin))
      .groupBy(col("term")).agg(sum(col("wt")).as("w_exp"))
      .orderBy(col("w_exp").desc, col("term")).limit(expandTerms)
    val allTerms = q0.withColumn("w", lit(origWeight))
      .unionByName(wexp.select(col("term"), lit(expWeight).as("w")))
    val top = scored(allTerms).orderBy(col("score_w").desc, col(idCol)).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_w").desc, col(idCol))
    top.withColumn("rank", row_number().over(w))
      .select(col(idCol), col("score_w"), col("rank"))
  }

  /** Retrieval-eval card — the measurement harness the search family is
    * tuned with (an index nobody evaluates is an index nobody should
    * trust): for each labeled query, rank the corpus with bag-of-words
    * [[search]] top-`k` and grade it against exact-[[phraseSearch]]
    * ground truth (docs containing the query AS AN ADJACENT PHRASE — the
    * strictest lexical qrel derivable without human labels; the gap
    * between the two IS the word-order blindness being measured).
    * Emits one row per query: (query_id, n_rel, hits, recall_bp,
    * precision_bp, mrr_bp) — recall@k, precision@k and reciprocal rank
    * as exact basis-point integers (floor division; zero when undefined),
    * so the card replays bit-for-bit in any engine.
    *
    * Scale shape: the query set is a bounded eval battery (a driver-side
    * Seq by construction), so the per-query loop is bounded fan-out, not
    * a corpus loop. Each leg is the underlying operator's own plan
    * (broadcast-filtered scans, TakeOrdered top-k); the grading join puts
    * the k-row ranking on the BROADCAST side against the truth relation,
    * and every metric reduces to a 1-row aggregate before the
    * queries-sized union. */
  def evalCard(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(String, Seq[String])], k: Int): DataFrame = {
    require(queries.nonEmpty && k >= 1, s"evalCard needs queries and k >= 1")
    // ONE tokenize/aggregate pass for the whole battery: every ranking
    // leg probes the same pinned tf; the phrase legs stay per-query
    // map-side-filtered scans (their shuffles are phrase-selectivity-
    // sized, and a pinned positional stream would cost corpus-sized
    // storage to save map-only scans)
    val tf = Pin(termFrequencies(docs, idCol, textCol))
    val cards = queries.map { case (qid, phrase) =>
      val ranked = searchWithTf(tf, idCol, phrase, k)
      val truth = phraseSearch(docs, idCol, textCol, phrase)
        .select(col(idCol), lit(1L).as("_rel"))
      val nRel = truth.groupBy().agg(count(lit(1)).as("n_rel"))
      val graded = truth.join(broadcast(ranked), Seq(idCol))
      val hitAgg = graded.groupBy().agg(
        count(lit(1)).as("hits"), min(col("rank")).cast("long").as("_first"))
      hitAgg.crossJoin(nRel)
        .select(
          lit(qid).as("query_id"),
          coalesce(col("n_rel"), lit(0L)).as("n_rel"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          expr("CASE WHEN n_rel > 0 THEN coalesce(hits, 0) * 10000 div n_rel ELSE CAST(0 AS BIGINT) END").as("recall_bp"),
          expr(s"coalesce(hits, 0) * 10000 div $k").as("precision_bp"),
          expr("CASE WHEN _first IS NOT NULL THEN 10000 div _first ELSE CAST(0 AS BIGINT) END").as("mrr_bp"))
    }
    cards.reduce(_ unionByName _).orderBy(col("query_id"))
  }

  /** The BATCHED production tier of [[evalCard]] (r14 verdict task 2 —
    * the mine_bitext default/spot-check split applied to retrieval eval):
    * [[evalCard]] runs one [[phraseSearch]] corpus scan PER QUERY, so its
    * truth side costs |battery| corpus token scans — the 0.68/decade tail
    * in the scale sweep. This form computes the SAME card in a CONSTANT
    * number of corpus passes regardless of battery size:
    *
    *  - truth for ALL queries in ONE [[gazetteerMatch]] pass (the
    *    broadcast slot relation carries every query's phrase; the token
    *    scan is filtered map-side once);
    *  - ranking for ALL queries in ONE probe of the shared tf relation —
    *    the per-query broadcast term joins become a single broadcast of
    *    the (query, term) battery, the per-doc score sum shuffles on
    *    (query, doc), and top-k runs through [[TopK.topKPerKey]]'s
    *    bounded-heap aggregate (map-side partial top-k; the exchange
    *    carries ≤ queries×k rows per partition, nothing fully sorts);
    *  - grading joins the queries×k ranking against the truth relation
    *    and reduces per query.
    *
    * Same arithmetic, same tie order (score DESC, id ASC), same output —
    * Bm25Spec pins collect-equality against [[evalCard]], and the
    * eval_retrieval oracle (which replays the per-query form in SQL)
    * hash-pins this path at driver scale. The per-query exact form stays
    * as the declared spot-check tier. Constraint: `idCol` must cast to
    * BIGINT (the bounded-heap top-k is integer-keyed); the id-generic
    * [[evalCard]] remains for string-keyed corpora. */
  def evalCardBatched(docs: DataFrame, idCol: String, textCol: String,
                      queries: Seq[(String, Seq[String])], k: Int): DataFrame = {
    require(queries.nonEmpty && k >= 1, s"evalCardBatched needs queries and k >= 1")
    require(queries.map(_._1).distinct.size == queries.size,
      "query ids must be unique — the card is one row per query id")
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = Pin(termFrequencies(docs, idCol, textCol))
    val qidx = queries.zipWithIndex
    // ranking side takes the terms VERBATIM (searchWithTf's contract);
    // the truth side lowercases inside gazetteerMatch (phraseSearch's)
    val qterms = qidx.flatMap { case ((_, ph), i) =>
      ph.distinct.map(t => (i.toLong, t))
    }.toDF("_qi", "term")
    val qmap = qidx.map { case ((qid, _), i) => (i.toLong, qid) }.toDF("_qi", "query_id")
    val consts = tf.groupBy().agg(
      countDistinct(col(idCol)).as("n_docs"), sum(col("tf")).as("sum_dl"))
    // df ONLY for the battery's term universe — same filter-before-
    // aggregate discipline as searchWithTf, one pass for every query
    val dfTerm = tf.join(broadcast(qterms.select(col("term")).distinct()), "term")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(qterms), "term")
      .join(broadcast(dfTerm), "term")
      .crossJoin(broadcast(consts))
      .withColumn("score_term_q", expr(
        s"""cast(floor($ScoreScale *
           |  ((cast(n_docs as double) - cast(df as double) + 0.5D) / (cast(df as double) + 0.5D)) *
           |  (cast(tf as double) * ${K1 + 1.0}D) /
           |  (cast(tf as double) + ${K1}D * (${1.0 - B}D + ${B}D * cast(dl as double) * cast(n_docs as double) / cast(sum_dl as double)))
           |) as bigint)""".stripMargin))
      .groupBy(col("_qi"), col(idCol))
      .agg(sum(col("score_term_q")).as("score_q"))
    val ranked = TopK.topKPerKey(scored, "_qi", idCol, "score_q", k)
      .join(broadcast(qmap), "_qi")
      .select(col("query_id"), col(idCol), col("rank"))
    val truth = gazetteerMatch(docs, idCol, textCol, queries)
      .select(col("entity_id").as("query_id"), col(idCol).cast("long").as(idCol))
    val nRel = truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val graded = truth.join(ranked, Seq("query_id", idCol))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("hits"), min(col("rank")).cast("long").as("_first"))
    val base = queries.map(_._1).toDF("query_id")
    base.join(nRel, Seq("query_id"), "left").join(graded, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr("CASE WHEN coalesce(n_rel, 0) > 0 THEN coalesce(hits, 0) * 10000 div n_rel ELSE CAST(0 AS BIGINT) END").as("recall_bp"),
        expr(s"coalesce(hits, 0) * 10000 div $k").as("precision_bp"),
        expr("CASE WHEN _first IS NOT NULL THEN 10000 div _first ELSE CAST(0 AS BIGINT) END").as("mrr_bp"))
      .orderBy(col("query_id"))
  }

  /** Exact phrase search — the positional companion to [[search]]'s
    * bag-of-words ranking (a bag match on "data processing" also matches
    * "processing data"; eval-set lookups, quote-attribution and
    * takedown-by-passage all need token-adjacent order).
    *
    * The anchor trick makes it ONE aggregation instead of an n-way
    * positional self-join: every occurrence of the phrase's slot-i term
    * at token position p votes for anchor p − i, and an anchor collecting
    * votes from all n DISTINCT slots is an exact match starting there
    * (duplicate terms in the phrase vote once per slot that holds them,
    * via the (slot, term) join). Scale shape: the token stream is
    * filtered map-side by the broadcast slot relation BEFORE any
    * exchange, so the only shuffle carries (doc, anchor) votes for
    * phrase-term occurrences — phrase-selectivity-sized, never the
    * corpus's token stream; the per-doc collapse then rides the same
    * partitioning. No positional index is materialized: for a known
    * phrase a direct scan beats probing a full positional index (which
    * would shuffle every term's postings); the inverted_index row covers
    * the reusable-index shape.
    *
    * Returns one row per matching doc: (doc, n_matches, first_pos). */
  /** Gazetteer matching — [[phraseSearch]] generalized to a whole entity
    * list in ONE corpus pass (the blocklist/PII-scrub shape: "flag every
    * doc mentioning any of these N names/phrases", where running N
    * phrase scans would cost N corpus passes): the broadcast relation
    * carries (entity_id, slot, term, n_slots) for every slot of every
    * entity, the token scan is filtered map-side by it once, and the
    * anchor vote now groups by (doc, entity, anchor) — an anchor
    * collecting all of ITS entity's distinct slots is an exact match of
    * that entity starting there. This is the scale answer to
    * Aho-Corasick: the automaton's "match all patterns in one text
    * pass" property falls out of the single broadcast join, and the
    * only shuffle carries gazetteer-selectivity-sized votes.
    *
    * Entities sharing terms (or nested in one another) match
    * independently — each vote carries its entity_id. Returns one row
    * per (doc, entity) with at least one match:
    * (doc, entity_id, n_matches, first_pos). */
  def gazetteerMatch(docs: DataFrame, idCol: String, textCol: String,
                     entities: Seq[(String, Seq[String])]): DataFrame = {
    require(entities.nonEmpty && entities.forall(_._2.nonEmpty),
      "gazetteerMatch needs at least one entity, each with a non-empty phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val slots = entities.flatMap { case (eid, ph) =>
      ph.zipWithIndex.map { case (t, i) =>
        (eid, i.toLong, t.toLowerCase, ph.length.toLong)
      }
    }.toDF("entity_id", "slot", "term", "n_slots")
    val toks = docs
      .select(col(idCol), posexplode(Dedup.tokensCol(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    toks.join(broadcast(slots), "term")
      .select(col(idCol), col("entity_id"), (col("pos") - col("slot")).as("anchor"),
        col("slot"), col("n_slots"))
      .groupBy(col(idCol), col("entity_id"), col("anchor"), col("n_slots"))
      .agg(countDistinct(col("slot")).as("_ns"))
      .filter(col("_ns") === col("n_slots"))
      .groupBy(col(idCol), col("entity_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("anchor")).as("first_pos"))
  }

  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val slots = phrase.zipWithIndex
      .map { case (t, i) => (i.toLong, t.toLowerCase) }.toDF("slot", "term")
    val toks = docs
      .select(col(idCol), posexplode(Dedup.tokensCol(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    toks.join(broadcast(slots), "term")
      .select(col(idCol), (col("pos") - col("slot")).as("anchor"), col("slot"))
      .groupBy(col(idCol), col("anchor"))
      .agg(countDistinct(col("slot")).as("_ns"))
      .filter(col("_ns") === phrase.length)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"), min(col("anchor")).as("first_pos"))
  }
}
