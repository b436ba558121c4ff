package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Text-analysis operators for a training-data pipeline (north-star
  * extensions): language ID, quality scoring, token counting, document
  * fingerprinting. All pure Catalyst expressions — codegen'd, no UDFs, and
  * integer-valued outputs so the DuckDB oracle hash-matches exactly.
  */
object TextAnalysis {

  /** Stopword inventories for the n-gram/stopword language-ID heuristic. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "den", "ein"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))

  private def toks(text: Column): Column =
    split(trim(regexp_replace(lower(text), "\\s+", " ")), " ")

  /** Per-language stopword hit counts + argmax prediction with a fixed
    * priority order on ties; all-zero → "und". If the input carries a
    * ground-truth `lang` column it is passed through as `labeled_lang`. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val order = Seq("en", "es", "de", "fr", "zh")
    val withToks = df.withColumn("_toks", toks(col(textCol)))
    val scored = order.foldLeft(withToks) { (d, lang) =>
      d.withColumn(s"s_$lang",
        size(filter(col("_toks"), t => t.isin(Stopwords(lang).map(_.asInstanceOf[Any]): _*))).cast("long"))
    }
    val best = greatest(order.map(l => col(s"s_$l")): _*)
    val predicted = when(best === 0, lit("und"))
      .otherwise(order.foldRight(lit("und"): Column) { (lang, acc) =>
        when(col(s"s_$lang") === best, lit(lang)).otherwise(acc)
      })
    val labeled =
      if (df.columns.contains("lang")) Seq(col("lang").as("labeled_lang")) else Nil
    scored.select(
      (Seq(col(idCol)) ++ labeled ++
        order.map(l => col(s"s_$l")) :+ predicted.as("predicted_lang")): _*)
  }

  /** Quality metrics, all integer-valued: char/token counts, average token
    * length (milli-chars), punctuation and uppercase counts, stopword ratio
    * (basis points), and a composite 0-100 score. */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val enStops = Stopwords("en")
    df
      .withColumn("_t", trim(regexp_replace(col(textCol), "\\s+", " ")))
      .withColumn("_toks", split(lower(col("_t")), " "))
      .withColumn("n_chars_c", length(col("_t")).cast("long"))
      .withColumn("n_tokens", size(col("_toks")).cast("long"))
      .withColumn("tok_len_milli",
        expr("(1000L * (n_chars_c - (n_tokens - 1))) div n_tokens"))
      .withColumn("punct_count", regexp_count(col("_t"), lit("[.,;:!?]")).cast("long"))
      .withColumn("upper_count", regexp_count(col("_t"), lit("[A-Z]")).cast("long"))
      .withColumn("stop_count",
        size(filter(col("_toks"), t => t.isin(enStops.map(_.asInstanceOf[Any]): _*))).cast("long"))
      .withColumn("stop_bp", expr("(10000L * stop_count) div n_tokens"))
      .withColumn("quality_score",
        least(lit(40L), expr("n_tokens div 4")) +
          when(col("stop_bp").between(200, 6000), lit(30L)).otherwise(lit(0L)) +
          when(col("tok_len_milli").between(2500, 9000), lit(30L)).otherwise(lit(0L)))
      .select(col(idCol), col("n_chars_c"), col("n_tokens"), col("tok_len_milli"),
        col("punct_count"), col("upper_count"), col("stop_bp"), col("quality_score"))
  }

  /** Gopher rule battery (Rae et al. 2021, appendix A1.1 — the public
    * rule-based pre-filter reused by MassiveText descendants): per
    * document, one boolean per rule plus the conjunction, so a curation
    * run can gate on `gopher_pass` or diagnose WHICH rule kills a slice
    * of the corpus. All thresholds are integer (milli / basis points) for
    * bit-exact cross-engine replay, and parameterized with the paper's
    * defaults:
    *
    *  - `r_word_count`:   word count in [minWords, maxWords] (50..100k)
    *  - `r_word_len`:     mean word length in [3, 10] chars (milli-chars)
    *  - `r_symbol`:       (# + "..." occurrences) / words <= 10% (bp)
    *  - `r_bullet`:       lines starting with a bullet <= 90% (bp)
    *  - `r_ellipsis`:     lines ending in "..." <= 30% (bp)
    *  - `r_alpha`:        words containing a letter >= 80% (bp)
    *  - `r_stop`:         >= 2 DISTINCT hits from the 8-word stop list
    *                      (the, be, to, of, and, that, have, with)
    *
    * Everything is a pure column expression over one tokenize pass plus
    * one raw line split (bullet/ellipsis rules read LINES, so they run on
    * the raw text before whitespace collapse) — scan-bound, codegen'd, no
    * shuffle, no UDF. Zero-word documents fail `r_word_count` and report
    * 0/null-safe ratios rather than dividing by zero. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    df
      .withColumn("_t", trim(regexp_replace(col(textCol), "\\s+", " ")))
      .withColumn("_toks", filter(split(lower(col("_t")), " "), t => t =!= ""))
      .withColumn("n_words", size(col("_toks")).cast("long"))
      // collapsed text = words joined by single spaces, so total word
      // chars = length - separators (the quality() identity)
      .withColumn("word_len_milli",
        when(col("n_words") > 0,
          expr("(1000L * (length(_t) - (n_words - 1))) div n_words")).otherwise(lit(0L)))
      .withColumn("symbol_bp",
        when(col("n_words") > 0,
          expr("(10000L * (regexp_count(_t, '#') + regexp_count(_t, '\\\\.\\\\.\\\\.'))) div n_words"))
          .otherwise(lit(0L)))
      .withColumn("_lines",
        filter(transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= ""))
      .withColumn("n_lines", size(col("_lines")).cast("long"))
      .withColumn("bullet_bp",
        when(col("n_lines") > 0,
          expr("(10000L * size(filter(_lines, l -> l rlike '^(\\\\* |- |•)'))) div n_lines"))
          .otherwise(lit(0L)))
      .withColumn("ellipsis_bp",
        when(col("n_lines") > 0,
          expr("(10000L * size(filter(_lines, l -> l rlike '\\\\.\\\\.\\\\.$'))) div n_lines"))
          .otherwise(lit(0L)))
      .withColumn("alpha_bp",
        when(col("n_words") > 0,
          expr("(10000L * size(filter(_toks, t -> t rlike '[a-z]'))) div n_words"))
          .otherwise(lit(0L)))
      .withColumn("stop_hits",
        size(filter(typedLit(gopherStops), s => array_contains(col("_toks"), s))).cast("long"))
      .withColumn("r_word_count", col("n_words").between(minWords, maxWords))
      .withColumn("r_word_len", col("word_len_milli").between(3000L, 10000L))
      .withColumn("r_symbol", col("symbol_bp") <= 1000L)
      .withColumn("r_bullet", col("bullet_bp") <= 9000L)
      .withColumn("r_ellipsis", col("ellipsis_bp") <= 3000L)
      .withColumn("r_alpha", col("alpha_bp") >= 8000L)
      .withColumn("r_stop", col("stop_hits") >= 2L)
      .withColumn("gopher_pass",
        col("r_word_count") && col("r_word_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") && col("r_stop"))
      .select(col(idCol), col("n_words"), col("word_len_milli"), col("symbol_bp"),
        col("bullet_bp"), col("ellipsis_bp"), col("alpha_bp"), col("stop_hits"),
        col("r_word_count"), col("r_word_len"), col("r_symbol"), col("r_bullet"),
        col("r_ellipsis"), col("r_alpha"), col("r_stop"), col("gopher_pass"))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (letter runs | single digits | single non-alnum marks). */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("_t", trim(regexp_replace(col(textCol), "\\s+", " ")))
      .select(col(idCol),
        size(split(col("_t"), " ")).cast("long").as("n_ws_tokens"),
        regexp_count(col("_t"), lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]")).cast("long").as("n_bpe_tokens"))

  /** Document fingerprint: lexicographic-min md5 over word-5-gram shingles —
    * the SQL-portable stand-in for a Rabin-Karp rolling-hash winnow; short
    * docs fingerprint their whole collapsed text. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame =
    df.withColumn("_toks", toks(col(textCol)))
      .withColumn("fingerprint",
        when(size(col("_toks")) >= k,
          expr(s"array_min(transform(sequence(0, size(_toks) - $k), i -> md5(array_join(slice(_toks, i + 1, $k), ' '))))"))
          .otherwise(md5(array_join(col("_toks"), " "))))
      .select(col(idCol), col("fingerprint"))

  /** PII scrubbing: emails, URLs, and phone numbers replaced by type tags —
    * the standard pre-training redaction pass. Pure regexp_replace chain
    * (codegen'd, streaming-safe).
    *
    * Precision over recall: the phone pattern requires a leading `+` or a
    * parenthesized area code, so dates (2020-01-01), numeric ranges, and
    * decimal sequences are NOT swallowed — a scrubber that destroys
    * ordinary numbers corrupts more training data than it protects. Audit
    * counts are taken from the REDACTED output (tags actually emitted),
    * so overlapping matches (an email inside a URL) can't make the audit
    * claim a redaction that never happened. */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^\\s]+"
    val phone = "(\\+[0-9][0-9()\\-. ]{7,}[0-9]|\\([0-9]{2,4}\\)[-. ]?[0-9][0-9\\-. ]{5,}[0-9])"
    df.select(col(idCol),
      regexp_replace(regexp_replace(regexp_replace(col(textCol),
        url, "<URL>"), email, "<EMAIL>"), phone, "<PHONE>").as("redacted"))
      .select(col(idCol),
        regexp_count(col("redacted"), lit("<EMAIL>")).cast("long").as("n_emails"),
        regexp_count(col("redacted"), lit("<URL>")).cast("long").as("n_urls"),
        regexp_count(col("redacted"), lit("<PHONE>")).cast("long").as("n_phones"),
        col("redacted"))
  }

  /** The curated mojibake artifact list: the high-frequency byte shapes
    * UTF-8 text acquires when decoded as cp1252/latin-1 and re-encoded
    * (the ftfy corpus's head cases — accented vowels, curly quotes,
    * dashes, ellipsis, non-breaking space, section/degree signs), plus
    * both forms of the replacement character (raw U+FFFD and its own
    * double-encoded ï¿½). The non-breaking-space artifact is 'Â'
    * followed by a REAL U+00A0 (cp1252-decoded NBSP keeps its second
    * byte as NBSP, not ASCII space), hence the escape. Every alternative
    * is a literal sequence and no two can match at the same start
    * offset, so `regexp_count` is engine-order-independent (Java regex
    * and RE2 agree exactly). */
  val MojibakePattern: String =
    "Ã©|Ã¨|Ã¡|Ã³|Ãº|Ã±|Ã§|Ã¤|Ã¶|Ã¼|Ã¯|â€™|â€˜|â€œ|â€“|â€”|â€¦|Â§|Â°|Â |ï¿½|�"

  /** Encoding-corruption (mojibake) detection — the crawl-hygiene gate
    * that catches double-encoding damage BEFORE it pollutes the token
    * stream (a corrupted quote becomes three junk tokens and silently
    * skews every downstream length/quality statistic): per document, the
    * count of known mojibake artifacts and a corrupt flag. Map-only
    * regexp_count, codegen'd, streaming-safe. */
  def mojibake(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      regexp_count(col(textCol), lit(MojibakePattern)).cast("long").as("mojibake_hits"))
      .withColumn("corrupt", (col("mojibake_hits") > 0L).cast("long"))

  /** TF-IDF keyword extraction with pure-integer state: per-document top-k
    * terms ranked by (tf DESC, df ASC, term ASC) — exactly the order
    * tf·idf induces when idf is monotone-decreasing in df, but computed
    * without a single float, so it replays hash-exactly in any engine. The
    * float score stays a LOCAL function of the verified integer state
    * ([[tfidfScore]]), the same state/estimate split as [[Hll]].
    *
    * Scale shape: tf is one map-side-combined groupBy on (doc, term); df
    * aggregates the tf relation (already one row per (doc, term)) on term;
    * the tf⋈df join shuffles on term. df is |vocab| rows — often broadcast-
    * able, but NOT forced here: Spark's AQE decides from actual size. The
    * per-doc top-k window partitions on doc_id (never a global sort). */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = df.select(col(idCol), explode(toks(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // df as a window count over the tf relation (one row per (doc, term),
    // so rows-per-term IS the document frequency): the token explode runs
    // ONCE — a separate df aggregate joined back would re-scan and
    // re-explode the whole corpus as a second subtree
    val wd = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(wd))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rank"))
  }

  /** The float TF-IDF score over verified integer state (local function,
    * never part of the comparison surface): tf · ln((N+1)/(df+1)). */
  def tfidfScore(tf: Long, df: Long, nDocs: Long): Double =
    tf * math.log((nDocs + 1.0) / (df + 1.0))

  /** Gopher-style repetition metrics: duplicate-LINE fraction and top
    * bigram fraction, in integer basis points (a doc dominated by repeated
    * lines or one bigram is boilerplate/spam). `dup_line_bp` = bp of lines
    * that are duplicates of an earlier line; `top_bigram_bp` = bp of all
    * bigram occurrences taken by the most frequent bigram.
    *
    * Line metrics are per-row array ops (O(n) per doc). The bigram mode is
    * computed by explode → two-level aggregate — NOT a per-distinct-bigram
    * array scan, which would be O(n²) per document — so the heavy path is
    * map-side partial-aggregated like every other corpus operator. */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .withColumn("_lines", // Column API, not name interpolation into expr()
        filter(transform(split(col(textCol), "\n"), x => trim(x)), x => x =!= ""))
      .select(col(idCol),
        size(col("_lines")).cast("long").as("n_lines"),
        when(size(col("_lines")) > 0,
          expr("10000L * (size(_lines) - size(array_distinct(_lines))) div size(_lines)"))
          .otherwise(lit(0L)).as("dup_line_bp"))
    val bigramCounts = df
      .withColumn("_toks", toks(col(textCol)))
      .filter(size(col("_toks")) >= 2)
      .select(col(idCol), explode(
        expr("transform(sequence(0, size(_toks) - 2), i -> concat(_toks[i], ' ', _toks[i+1]))")).as("_bg"))
      .groupBy(col(idCol), col("_bg")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol))
      .agg(expr("10000L * max(_c) div sum(_c)").as("top_bigram_bp"))
    lines.join(bigramCounts, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"), col("dup_line_bp"),
        coalesce(col("top_bigram_bp"), lit(0L)).as("top_bigram_bp"))
  }

  /** CCNet-style cross-document LINE dedup (boilerplate removal): split
    * each document into trimmed non-empty lines, hash each line, count
    * the DISTINCT documents containing each line within `keyCol` (the
    * source/domain — boilerplate is chrome shared across one site, not
    * the web), and drop lines whose document frequency exceeds
    * `maxDocFreq` — cookie banners, navigation, legal footers. Returns
    * one row per document: (id, n_lines, n_boiler_lines, clean_text)
    * with the retained lines reassembled in ORIGINAL order.
    *
    * Scale shape: line df is a distinct + map-side-combined groupBy on
    * (key, line-hash) — 60-bit hashes cross the wire, never line text
    * twice; the back-join is an equi-join on the same keys (the df
    * relation is per-domain boilerplate, usually small — AQE decides
    * broadcast). Reassembly is ONE aggregate per doc using an
    * order-pinned array_sort over (line_idx, line) structs — no window,
    * no per-doc sort shuffle beyond the doc-key exchange. Docs with no
    * non-empty lines are absent from the output (nothing to clean). */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             keyCol: String, maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val lines = df
      .select(col(idCol), col(keyCol), posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("pos", "line_idx")
      .withColumn("line", trim(col("col")))
      .filter(col("line") =!= "")
      .withColumn("lh", graft.util.Hash.md5Bits60(col("line")))
      .select(col(idCol), col(keyCol), col("line_idx"), col("line"), col("lh"))
    val lineDf = lines.select(col(keyCol), col("lh"), col(idCol)).distinct()
      .groupBy(col(keyCol), col("lh"))
      .agg(count(lit(1)).as("line_df"))
    lines.join(lineDf, Seq(keyCol, "lh"))
      .withColumn("is_boiler", col("line_df") > maxDocFreq)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler_lines"),
        // collect_list skips the nulls the when() leaves for boilerplate
        // rows; array_sort on (line_idx, line) structs pins the original
        // order without a window
        coalesce(array_join(transform(
          array_sort(collect_list(when(!col("is_boiler"),
            struct(col("line_idx"), col("line"))))),
          x => x.getField("line")), "\n"), lit("")).as("clean_text"))
  }

  /** C4 line/page filter (Raffel et al. 2020 §2.2 — the "colossal clean
    * crawled corpus" heuristics, reused by Dolma/RefinedWeb): keep only
    * lines that end in a terminal punctuation mark, carry >= 5 words, and
    * don't mention "javascript"; drop the whole page when fewer than 3
    * lines survive, or when it contains a curly brace (code) or the
    * "lorem ipsum" placeholder. Complements [[removeBoilerplateLines]]
    * (cross-document frequency, needs a shuffle) with C4's PER-DOCUMENT
    * rules — which compose entirely as array-column expressions over the
    * line list (split → trim → filter → array_join): a map-only,
    * codegen'd, shuffle-free pass, exactly how a 100 TB C4 run behaves.
    * Returns every input row with diagnostics; gate on `c4_kept`. */
  def c4Lines(df: DataFrame, idCol: String, textCol: String,
              minKeptLines: Int = 3): DataFrame = {
    val lines = filter(
      transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= "")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        regexp_count(l, lit("\\S+")) >= 5 &&
        !lower(l).contains("javascript"))
    df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      array_join(kept, "\n").as("clean_text"),
      (size(kept) >= minKeptLines &&
        !col(textCol).contains("{") &&
        !lower(col(textCol)).contains("lorem ipsum")).as("c4_kept"))
  }

  /** HTML→text extraction — the crawl-ingest step ahead of every text
    * operator here (the trafilatura/jusText role, reduced to its
    * deterministic core): drop `<script>`/`<style>` blocks wholesale,
    * turn block-closing tags into line breaks, strip remaining tags,
    * unescape the five core entities (`&amp;` LAST, so `&amp;lt;` comes
    * out as the literal `&lt;` — single-pass unescape, not a fixpoint;
    * the P10 fixpoint operator exists separately for the double-escaped
    * pathology), then trim/collapse lines and drop the empties. Pure
    * regexp/replace column expressions — map-only, codegen'd, and the
    * pattern constants below are SHARED with the oracle so both engines
    * run the identical procedure. Mismatched script/style nesting
    * (`<script>…</style>`) matches the block pattern too — a documented
    * simplification, deterministic in both engines. */
  val HtmlScriptPat = "(?s)<(script|style)[^>]*>.*?</(script|style)>"
  val HtmlBlockPat = "(?i)</(p|div|h[1-6]|li|tr)>|<br */?>"
  val HtmlTagPat = "<[^>]*>"
  /** Entity unescape pairs, in application order (amp last). */
  val HtmlEntities: Seq[(String, String)] =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** (idCol, text_clean, n_blocks) from an HTML column. */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val noBlocks = regexp_replace(col(htmlCol), HtmlScriptPat, " ")
    val broken = regexp_replace(noBlocks, HtmlBlockPat, "\n")
    val untagged = regexp_replace(broken, HtmlTagPat, " ")
    // entity patterns are regex-metacharacter-free, so regexp_replace is a
    // literal replace here (keeps the whole chain in one codegen'd form)
    val unescaped = HtmlEntities.foldLeft(untagged) {
      case (c, (e, r)) => regexp_replace(c, e, r)
    }
    val lines = filter(
      transform(split(unescaped, "\n"), l => trim(regexp_replace(l, "\\s+", " "))),
      l => l =!= "")
    df.select(col(idCol),
      array_join(lines, "\n").as("text_clean"),
      size(lines).cast("long").as("n_blocks"))
  }

  /** URL canonicalization for crawl curation: lowercase scheme and host
    * (ports stripped), trailing-slash-stripped path, tracking params
    * (utm_*, gclid, fbclid) scrubbed from the query string, and the
    * registered domain approximated as the LAST TWO host labels — the
    * per-domain blocking key for crawl dedup and domain caps. The
    * two-label approximation is a documented divergence for multi-label
    * public suffixes (co.uk): an exact answer needs the public-suffix
    * LIST (data, not an algorithm), which a production deployment joins
    * in as a broadcast relation. A userinfo prefix (user:pass@host) is
    * stripped before host extraction; IPv6 host literals ([::1]) remain
    * a documented limitation like the two-label suffix — the bracketed
    * form extracts as '[' (ports can't be told apart from the address
    * colons without bracket-aware parsing), so corpora with raw-IPv6
    * URLs need a dedicated parser. Pure regexp column expressions
    * (codegen'd, oracle-replayable). */
  def urlParts(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    // optional non-captured userinfo ([^/@?#]*@) skipped so 'user:pass@h'
    // yields h, not 'user'; port still stripped by stopping at ':'
    val host = lower(regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/?#:]+)", 1))
    val path = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    // scrub tracking params, collapse the separators the scrub leaves
    // behind, trim dangling '&' — same three steps the oracle replays
    val scrubbed = regexp_replace(query, "(^|&)(utm_[^=&]*|gclid|fbclid)=[^&]*", "$1")
    val cleanQuery = trim(regexp_replace(scrubbed, "&+", "&"), "&")
    val cleanPath = regexp_replace(path, "/+$", "")
    df.select(col(idCol),
      scheme.as("scheme"),
      host.as("host"),
      regexp_extract(host, "([^.]+\\.[^.]+)$", 1).as("domain"),
      cleanPath.as("clean_path"),
      concat(scheme, lit("://"), host, cleanPath,
        when(cleanQuery =!= "", concat(lit("?"), cleanQuery)).otherwise(lit("")))
        .as("canonical_url"))
  }

  /** Opt-out / takedown suppression with SUBDOMAIN-SUFFIX semantics: an
    * entry `example.com` blocks `example.com` AND every subdomain
    * (`a.b.example.com`), the way robots exclusion and publisher opt-out
    * lists are specified. A `LIKE '%suffix'` scan is O(corpus × list) and
    * unindexable; instead each host explodes into its label-suffix chain
    * (`a.b.example.com` → a.b.example.com, b.example.com, example.com,
    * com — bounded by label depth, a handful per host) and equi-joins the
    * suppression list: with `broadcastList` (the real case — opt-out
    * lists are external and bounded) the whole gate is ONE map-side pass
    * over the corpus, no corpus shuffle at all beyond the bounded
    * explode. When several entries nest (`example.com` and
    * `sub.example.com`), the DEEPEST match is reported — the most
    * specific entry is the one whose policy applies. Returns every input
    * row with (host, matched_domain, suppressed); filter on `suppressed`
    * to enforce (anti) or audit (semi) with one predicate. */
  def suppressByDomain(df: DataFrame, idCol: String, urlCol: String,
                       optout: DataFrame, domainCol: String = "domain",
                       broadcastList: Boolean = true): DataFrame = {
    val host = lower(regexp_extract(col(urlCol),
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/?#:]+)", 1))
    val hosts = df.select(col(idCol), host.as("host"))
    val sfx = hosts
      .withColumn("_ls", split(col("host"), "\\."))
      .select(col(idCol), col("host"), explode(expr(
        "transform(sequence(1, size(_ls)), i -> struct(size(_ls) - i + 1 AS n_labels, " +
          "array_join(slice(_ls, i, size(_ls) - i + 1), '.') AS sfx))")).as("s"))
      .select(col(idCol), col("host"), col("s.n_labels").as("n_labels"), col("s.sfx").as("sfx"))
    val list = optout.select(lower(col(domainCol)).as("sfx"))
    val matched = sfx
      .join(if (broadcastList) broadcast(list) else list, "sfx")
      .groupBy(col(idCol))
      .agg(max(struct(col("n_labels"), col("sfx"))).as("_m"))
      .select(col(idCol), col("_m.sfx").as("matched_domain"))
    hosts.join(matched, Seq(idCol), "left")
      .withColumn("suppressed", col("matched_domain").isNotNull)
  }

  /** Weak-supervision vote card (the Snorkel-style programmatic-labeling
    * audit, Ratner et al. 2017: when k noisy labeling functions vote on
    * every example, the per-LF agreement with the majority is the
    * cheapest proxy for LF accuracy — an LF far below its peers is
    * miscalibrated or broken, and the card says WHICH one before any
    * hand labeling): each rule column votes keep(1)/reject(0), majority
    * = at least `quorum` keep votes, and the card reports per LF its
    * keep votes and agreement with the majority in bp.
    *
    * Scale shape: one scan over the voted relation into ONE 1-row
    * aggregate (2k+1 counters), `stack`-unpivoted to k rows — the
    * filterAttribution discipline. */
  def labelVoteCard(voted: DataFrame, lfCols: Seq[String], quorum: Int): DataFrame = {
    require(lfCols.nonEmpty && quorum >= 1 && quorum <= lfCols.length,
      s"need 1 <= quorum <= ${lfCols.length}, got $quorum")
    val asLong = lfCols.foldLeft(voted) { (d, c) => d.withColumn(c, col(c).cast("long")) }
    val withMaj = asLong.withColumn("_maj",
      (expr(lfCols.mkString(" + ")) >= quorum.toLong).cast("long"))
    val counters =
      count(lit(1)).as("n_docs") +:
      sum(col("_maj")).as("n_majority_keep") +:
      lfCols.flatMap(r => Seq(
        sum(col(r)).as(s"k_$r"),
        sum(when(col(r) === col("_maj"), 1L).otherwise(0L)).as(s"a_$r")))
    val agg = withMaj.groupBy().agg(counters.head, counters.tail: _*)
    agg.select(col("n_docs"), col("n_majority_keep"), expr(
        s"stack(${lfCols.length}, ${lfCols.map(r => s"'$r', k_$r, a_$r").mkString(", ")}) AS (lf, n_keep, n_agree)"))
      .select(col("lf"), col("n_docs"), col("n_majority_keep"),
        col("n_keep"), col("n_agree"),
        expr("(10000 * n_agree) div n_docs").as("agree_bp"))
  }

  /** Green-list watermark detector (Kirchenbauer et al. 2023, "A
    * Watermark for Large Language Models" — the detection side): a
    * watermarking sampler boosts tokens whose hash with the previous
    * token lands in a pseudorandom "green" half of the vocabulary, so
    * watermarked text shows a green-bigram rate far above the ~50%
    * baseline of natural text. The filtering use: screen a crawl for
    * machine-generated text BEFORE it contaminates a training mix. This
    * is the exact-integer form — the green bit is the parity of the
    * canonical 60-bit md5 word over `w1:w2` ([[graft.util.Hash]]'s
    * derivation, replayed verbatim in the oracle), the rate is a bp
    * floor division, and `suspected` fires at `suspectBp`. The paper's
    * z-score needs a sqrt; at fixed threshold the bp rate is the same
    * decision boundary family, exactly replayable.
    *
    * Scale shape: ONE map-only generated expression per document — the
    * bigram fold runs inside a higher-order `aggregate` over the token
    * array, no explode, no shuffle, embarrassingly parallel. */
  def watermarkScore(df: DataFrame, idCol: String, textCol: String,
                     suspectBp: Long = 5800L): DataFrame = {
    require(suspectBp >= 0L && suspectBp <= 10000L, s"suspectBp out of range: $suspectBp")
    val greenSum =
      """aggregate(transform(sequence(0, size(_ts) - 2),
        |  i -> CASE WHEN conv(substring(md5(_ts[i] || ':' || _ts[i + 1]), 1, 15), 16, 10) % 2 = 1
        |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
        |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin
    df.select(col(idCol), Dedup.tokensCol(col(textCol)).as("_ts"))
      .withColumn("n_bigrams", greatest(size(col("_ts")) - 1, lit(0)).cast("long"))
      .withColumn("greens", when(col("n_bigrams") === 0L, 0L).otherwise(expr(greenSum)))
      .withColumn("green_bp",
        expr("CASE WHEN n_bigrams = 0 THEN CAST(0 AS BIGINT) ELSE (10000 * greens) div n_bigrams END"))
      .withColumn("suspected",
        (col("n_bigrams") > 0L && col("green_bp") >= suspectBp).cast("long"))
      .select(col(idCol), col("n_bigrams"), col("greens"), col("green_bp"), col("suspected"))
  }

  /** Lexical-diversity card — the vocabulary-health QA beside the
    * dataCard's volume stats: per group, type-token ratio (distinct
    * terms over total tokens) and the hapax share of the vocabulary
    * (terms occurring exactly once). Both are the standard collapse
    * detectors for synthetic/templated data — model-generated or
    * boilerplate-heavy corpora show depressed TTR and hapax share long
    * before volume stats move — and both are exact bp integers here.
    *
    * Scale shape: one tokenize/explode into a (group, term) count
    * aggregate (map-side combined — the shuffle carries the vocab, not
    * the token stream), then a per-group collapse of the vocab-sized
    * relation. Nothing quadratic, no second corpus pass. */
  def lexicalDiversity(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(groupCol).as("_g"),
        explode(Dedup.tokensCol(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    toks.groupBy(col("_g"), col("term")).agg(count(lit(1)).as("_c"))
      .groupBy(col("_g")).agg(
        sum(col("_c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("_c") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("_g").as(groupCol), col("n_tokens"), col("vocab"),
        expr("(10000 * vocab) div n_tokens").as("ttr_bp"),
        col("hapax"),
        expr("(10000 * hapax) div vocab").as("hapax_bp"))
  }

  /** Per-document Simpson concentration — the probability two tokens
    * drawn from the document coincide, in exact basis points:
    * lambda_bp = (sum c_i^2) * 10000 div N^2 (Simpson 1949, "Measurement
    * of diversity"). TTR/hapax ([[lexicalDiversity]]) detect corpus-level
    * vocabulary collapse; Simpson is the PER-DOCUMENT repetition signal —
    * a doc looping one phrase scores near 10000 while natural prose sits
    * low — and unlike the float entropy it is integer-exact (the reason
    * this card uses Simpson's index, not Shannon's). Complements the
    * windowed dup-gram scans in [[repetition]] with a whole-distribution
    * statistic that no window size can hide from.
    *
    * Overflow domain: sum c_i^2 <= N^2, so the scaled numerator needs
    * N <= ~3*10^7 tokens per doc for BIGINT — enforced in-plan, far
    * above any sane document.
    *
    * Scale shape: one tokenize/explode into a (doc, term) count aggregate
    * (map-side combined), then a per-doc collapse — the same two-shuffle
    * shape as [[lexicalDiversity]], nothing quadratic. Returns
    * (<idCol>, n_tokens, vocab, top_term_n, simpson_bp). */
  /** RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents") made exact-integer — the
    * per-document topic-tagging step a curation/retrieval pipeline runs
    * where [[collocations]] answers the CORPUS-level question: candidate
    * phrases are maximal stopword-free token runs (capped at `maxLen`
    * tokens — longer runs are dropped, the standard cap), each word
    * scores deg/freq over the document's candidates (deg = Σ lengths of
    * the phrases it appears in, freq = its occurrence count — the ratio
    * favors words that travel in long phrases), a phrase scores the sum
    * of its words' scores, and identical phrase texts collapse before
    * ranking. All arithmetic rides milli-fixed-point integer division
    * ((1000·deg) div freq), so the ranking replays exactly in any
    * engine. Returns the top `k` phrases per document:
    * (id, rank, phrase, score_milli).
    *
    * Scale shape: everything is keyed by the document (segment window,
    * phrase groupBy, word-stat groupBy, rescore join, top-k window) —
    * the widest relation is the doc's own token stream, nothing is
    * corpus-global. */
  def rakeKeyphrases(df: DataFrame, idCol: String, textCol: String,
                     maxLen: Int = 4, k: Int = 3): DataFrame = {
    require(maxLen >= 1 && k >= 1, s"maxLen/k must be >= 1, got $maxLen/$k")
    // r18 optimization (guide §2.4): RAKE is entirely document-local, so
    // the whole pipeline below (token posexplode → running-sum segment
    // window → phrase/word-stat aggregates + rescore join → rank window —
    // three corpus-token shuffles on the doc id) collapses into ONE
    // map-only kernel pass per row. RakeKernelSpec pins kernel ≡ the
    // relational form (kept below as rakeKeyphrasesRelational); the
    // text_keyphrases oracle replays the relational form in DuckDB.
    df.select(col(idCol),
      explode(org.apache.spark.sql.graft.RakeTopK(
        col(textCol), Stopwords("en"), maxLen, k)).as("_kp"))
      .select(col(idCol), col("_kp.rank").as("rank"),
        col("_kp.phrase").as("phrase"), col("_kp.score_milli").as("score_milli"))
  }

  /** The pre-r18 relational RAKE formulation — retained as the
    * equivalence reference for RakeKernelSpec (and the shape the DuckDB
    * oracle replays); not on any query path. */
  private[graft] def rakeKeyphrasesRelational(df: DataFrame, idCol: String, textCol: String,
                     maxLen: Int = 4, k: Int = 3): DataFrame = {
    require(maxLen >= 1 && k >= 1, s"maxLen/k must be >= 1, got $maxLen/$k")
    val stops = Stopwords("en")
    val toks = df
      .select(col(idCol), posexplode(Dedup.tokensCol(col(textCol))).as(Seq("i", "tok")))
      .filter(col("tok") =!= "")
    val isStop = col("tok").isin(stops.map(_.asInstanceOf[Any]): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("i"))
    val seg = toks
      .withColumn("_s", when(isStop, 1L).otherwise(0L))
      .withColumn("seg", sum(col("_s")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .filter(!isStop)
    val phrases = Pin(seg.groupBy(col(idCol), col("seg"))
      .agg(count(lit(1)).as("plen"),
        array_join(transform(
          array_sort(collect_list(struct(col("i"), col("tok")))),
          s => s.getField("tok")), " ").as("phrase"),
        collect_list(col("tok")).as("words"))
      .filter(col("plen") <= maxLen)) // feeds BOTH the word stats and the rescore
    val wordStats = phrases
      .select(col(idCol), col("plen"), explode(col("words")).as("word"))
      .groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore_milli", expr("(1000 * deg) div freq"))
    val scored = phrases
      .select(col(idCol), col("seg"), col("phrase"), explode(col("words")).as("word"))
      .join(wordStats.select(col(idCol).as("_wid"), col("word").as("_wword"),
        col("wscore_milli")),
        col(idCol) === col("_wid") && col("word") === col("_wword"))
      .groupBy(col(idCol), col("seg"), col("phrase"))
      .agg(sum(col("wscore_milli")).as("score_milli"))
      // identical phrase texts in one doc carry identical scores (the
      // word stats are doc-level) — collapse before ranking
      .groupBy(col(idCol), col("phrase"))
      .agg(max(col("score_milli")).as("score_milli"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(desc("score_milli"), col("phrase"))
    scored.withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("phrase"), col("score_milli"))
  }

  /** TextTiling topic segmentation (Hearst 1997, "TextTiling: Segmenting
    * Text into Multi-paragraph Subtopic Passages") made EXACT-integer:
    * the token stream tiles into `window`-token blocks, consecutive
    * blocks score their lexical cohesion as the exact distinct-vocab
    * Jaccard in basis points, and a topic boundary falls between blocks
    * whose cohesion drops below `boundaryBp`. This is the chunk-BOUNDARY
    * intelligence the fixed/section chunkers lack: a RAG or packing
    * pipeline that splits at topic shifts instead of arbitrary offsets
    * keeps retrieval units coherent. (The original uses smoothed depth
    * scores over sliding windows; the tumbling-block + absolute-threshold
    * form keeps every quantity an integer that replays in any engine —
    * the divergence is documented, not hidden.) Output per document:
    * (id, n_tokens, n_windows, n_boundaries, n_segments, min_jacc_bp,
    * mean_jacc_bp) with the jacc columns -1 for single-window docs
    * (no pair to score — the sentinel keeps the schema integer).
    *
    * Scale shape: one explode + map-side-combined (id, win) vocab
    * aggregate; the lag/compare runs per document over its WINDOW-COUNT
    * relation (bounded by doc length / window), then one collapse back
    * to the id. Nothing is corpus-pairwise; the widest shuffle key is
    * (id, win). */
  /** The shared tiling-window machinery: tokens tiled into `window`-token
    * blocks, per-(id, win) vocab aggregated, neighbor cohesion scored as
    * the exact distinct-vocab Jaccard (bp; −1 for the first window).
    * [[textTiling]] aggregates this to the per-doc card; [[tilingChunks]]
    * consumes the SAME boundaries as a segmenter — one code path, so the
    * card and the chunker can't disagree on where a topic shifts.
    * `withTokens` additionally carries each window's ordered token list
    * (bounded by `window` entries) for chunk-text reconstruction. */
  private def tilingScored(df: DataFrame, idCol: String, textCol: String,
                           window: Int, withTokens: Boolean): DataFrame = {
    val toks = df
      .select(col(idCol), posexplode(Dedup.tokensCol(col(textCol))).as(Seq("i", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("win", expr(s"CAST(i div $window AS BIGINT)"))
    val baseAggs = Seq(count(lit(1)).as("wtok"), collect_set(col("tok")).as("vocab"))
    val aggs =
      if (withTokens)
        baseAggs :+ expr("transform(sort_array(collect_list(struct(i, tok))), e -> e.tok)")
          .as("wtoks")
      else baseAggs
    val wins = toks.groupBy(col(idCol), col("win")).agg(aggs.head, aggs.tail: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("win"))
    wins
      .withColumn("_pv", lag(col("vocab"), 1).over(w))
      .withColumn("jacc_bp", when(col("_pv").isNull, lit(-1L)).otherwise(expr(
        """CAST(size(array_intersect(vocab, _pv)) * 10000
          |  div size(array_union(vocab, _pv)) AS BIGINT)""".stripMargin)))
  }

  def textTiling(df: DataFrame, idCol: String, textCol: String,
                 window: Int = 40, boundaryBp: Int = 1500): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens, got $window")
    require(boundaryBp >= 0 && boundaryBp <= 10000, s"boundaryBp out of range: $boundaryBp")
    tilingScored(df, idCol, textCol, window, withTokens = false)
      .groupBy(col(idCol))
      .agg(sum(col("wtok")).as("n_tokens"),
        count(lit(1)).as("n_windows"),
        sum(when(col("jacc_bp") >= 0L && col("jacc_bp") < boundaryBp, 1L)
          .otherwise(0L)).as("n_boundaries"),
        min(when(col("jacc_bp") >= 0L, col("jacc_bp"))).as("_minj"),
        sum(when(col("jacc_bp") >= 0L, col("jacc_bp"))).as("_sumj"),
        sum(when(col("jacc_bp") >= 0L, 1L).otherwise(0L)).as("_npairs"))
      .select(col(idCol), col("n_tokens"), col("n_windows"),
        col("n_boundaries"), (col("n_boundaries") + 1L).as("n_segments"),
        coalesce(col("_minj"), lit(-1L)).as("min_jacc_bp"),
        when(col("_npairs") === 0L, lit(-1L))
          .otherwise(expr("_sumj div _npairs")).as("mean_jacc_bp"))
  }

  /** TextTiling boundaries COMPOSED into a chunker (r14 verdict task 3 —
    * the topic-shift segmenter the fixed/section chunkers lack, now
    * producing actual chunks instead of only the per-doc card): every
    * window where cohesion drops below `boundaryBp` starts a new segment,
    * a segment's chunk is its windows' tokens rejoined in order, and ids
    * follow the chunker family's `<doc>::s<seg>` convention. Shares
    * [[tilingScored]] with [[textTiling]] VERBATIM, so
    * `max(seg_index) + 1 == textTiling.n_segments` by construction
    * (TextMultimodalSpec pins it) — the boundary intelligence and the
    * chunk output cannot drift apart.
    *
    * Scale shape: the segment index is a per-doc running sum over the
    * WINDOW-COUNT relation (bounded by doc length / window — the same
    * partitioned-window discipline as textTiling's lag); the segment
    * collapse regroups (id, seg) rows whose payload is ≤ `window` tokens
    * each. Nothing is corpus-pairwise; chunk text is bounded by its
    * document's own length. Output: (chunk_id, <id>, seg_index,
    * n_windows, n_tokens, chunk_text). */
  def tilingChunks(df: DataFrame, idCol: String, textCol: String,
                   window: Int = 40, boundaryBp: Int = 1500): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens, got $window")
    require(boundaryBp >= 0 && boundaryBp <= 10000, s"boundaryBp out of range: $boundaryBp")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("win"))
    val seg = tilingScored(df, idCol, textCol, window, withTokens = true)
      .withColumn("_b", when(col("jacc_bp") >= 0L && col("jacc_bp") < boundaryBp, 1L)
        .otherwise(0L))
      .withColumn("seg", sum(col("_b")).over(w))
    seg.groupBy(col(idCol), col("seg"))
      .agg(count(lit(1)).as("n_windows"), sum(col("wtok")).as("n_tokens"),
        array_join(flatten(expr(
          "transform(sort_array(collect_list(struct(win, wtoks))), e -> e.wtoks)")), " ")
          .as("chunk_text"))
      .select(concat(col(idCol), lit("::s"), col("seg")).as("chunk_id"),
        col(idCol), col("seg").as("seg_index"), col("n_windows"),
        col("n_tokens"), col("chunk_text"))
  }

  def simpson(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(Dedup.tokensCol(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol)).agg(
        sum(col("_c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        max(col("_c")).as("top_term_n"),
        sum(col("_c") * col("_c")).as("_sq"))
      .withColumn("n_tokens", when(col("n_tokens") > 30000000L,
        expr("raise_error('simpson: document exceeds the 3e7-token BIGINT domain')"))
        .otherwise(col("n_tokens")))
      .withColumn("simpson_bp", expr("(_sq * 10000) div (n_tokens * n_tokens)"))
      .drop("_sq")

  /** Robots-exclusion path gate — [[suppressByDomain]]'s PATH-rule
    * companion, the other half of crawl compliance (RFC 9309 / the
    * Google robots spec): a URL path is governed by the LONGEST matching
    * rule prefix among the site's Allow/Disallow lines, allow winning a
    * same-length tie, and an unmatched path is allowed. Prefix semantics
    * only (the `*`/`$` wildcard extension is a documented non-goal — the
    * curated blocklists this gates on are prefix lists).
    *
    * Scale shape: the rule list is a bounded external artifact, so the
    * whole gate is ONE map-side pass — the corpus joins the BROADCAST
    * rules on `startsWith` (a nested-loop per row over a handful of
    * rules, never a corpus shuffle), and the longest-match pick is a
    * per-id max over a struct ordered by (rule length, allow) — the tie
    * rule falls out of the struct order. Returns every input row with
    * (path, allowed, rule_path, rule_len); rule_len −1 marks the
    * no-match default-allow. */
  def robotsGate(urls: DataFrame, idCol: String, pathCol: String,
                 rules: Seq[(String, Boolean)]): DataFrame = {
    require(rules.nonEmpty, "robotsGate needs at least one rule")
    val spark = urls.sparkSession
    import spark.implicits._
    val ruleDf = rules.map { case (p, a) => (p, if (a) 1L else 0L, p.length.toLong) }
      .toDF("rule_path", "rule_allow", "rule_len")
    val base = urls.select(col(idCol), col(pathCol).as("path"))
    val won = base
      .join(broadcast(ruleDf), col("path").startsWith(col("rule_path")))
      .groupBy(col(idCol))
      .agg(max(struct(col("rule_len"), col("rule_allow"), col("rule_path"))).as("_w"))
      .select(col(idCol), col("_w.rule_allow").as("_a"),
        col("_w.rule_path").as("_rp"), col("_w.rule_len").as("_rl"))
    base.join(won, Seq(idCol), "left")
      .select(col(idCol), col("path"),
        coalesce(col("_a"), lit(1L)).as("allowed"),
        coalesce(col("_rp"), lit("")).as("rule_path"),
        coalesce(col("_rl"), lit(-1L)).as("rule_len"))
  }

  /** Bigram-LM fluency score — the CCNet quality tier (Wenzek et al.
    * 2019: score each document with a language model trained on a
    * reference corpus; gate or bucket on the score). CCNet uses KenLM
    * perplexity; this is the same signal in INTEGER arithmetic so both
    * engines replay it bit-exactly (the BM25 row plays the same log-free
    * trick): per bigram, the LAPLACE-SMOOTHED conditional probability of
    * `w2` given `w1` in basis points ((10000·(c(w1,w2)+1)) ÷ (c(w1·)+V),
    * V = the distinct-continuation vocabulary), and per document the
    * integer mean over its bigrams — fluent text built from common
    * continuations scores high, word salad scores low. The smoothing is
    * load-bearing, not decoration: UNsmoothed conditional probability
    * hands a perfect 10000 bp to any bigram whose context is itself
    * hapax (c2=1/c1=1), i.e. word salad made of unique tokens would
    * outscore fluent prose; the +V prior damps exactly that case.
    * Documented divergence: a mean of probabilities, not a geometric
    * mean / log-perplexity, so extreme bigrams are damped rather than
    * dominant.
    *
    * Scale shape: the tokenize→explode bigram stream is pinned and
    * feeds all three consumers — the bigram
    * counts, the context counts, and the per-doc scoring join — one
    * corpus scan, not three. Both count relations are map-side-combined
    * aggregates; the probability table is VOCAB²-bounded (far smaller
    * after `minCount` pruning: hapax bigrams are the bulk of the mass),
    * so at 100 TB you train it on a sample, prune to top-V, and the
    * scoring join broadcasts. The vocabulary size joins in as a 1-row
    * broadcast (the repo's constant-relation idiom), not a driver
    * collect. With `minCount` > 1 pruned (OOV) bigrams score 0 bp — an
    * OOV floor slightly below the smoothed 1/(c1+V) tail, matching the
    * gate's intent.
    *
    * Only documents with ≥2 tokens (≥1 bigram) appear in the output. */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              minCount: Long = 1L): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val bigrams = Pin(df
      .withColumn("_toks", toks(col(textCol)))
      .filter(size(col("_toks")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(_toks) - 2), i -> struct(_toks[i] AS w1, _toks[i+1] AS w2))")).as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2")))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
      .filter(col("n2") >= minCount)
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("n1"))
    val vocab = bigrams.agg(countDistinct(col("w2")).as("vsz"))
    val prob = c2.join(c1, "w1").crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        expr("(10000 * (n2 + 1)) div (n1 + vsz)").as("cond_bp"))
    bigrams.join(prob, Seq("w1", "w2"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(coalesce(cond_bp, 0L)) div count(1)").as("lm_bp"))
  }

  /** Unicode script ranges shared by BOTH engines (Java regex and
    * DuckDB's RE2 each accept `\x{...}` inside a character class — the
    * same shared-constant discipline as [[MojibakePattern]]; `\p{Han}`
    * vs `\p{IsHan}` name skew is why the explicit ranges are used). */
  val ScriptPatterns: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "han" -> "[\\x{4E00}-\\x{9FFF}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]")

  /** Script-mix detection — the multilingual-pipeline gate langid can't
    * supply: langid answers "which language", this answers "which WRITING
    * SYSTEMS, and is the doc mixed" (mixed-script text is the classic
    * spam/injection/mojibake signal, and script routing decides which
    * tokenizer/langid tier even runs). Per doc: character count per
    * script range in bp of total chars, the dominant script (ties break
    * by the fixed [[ScriptPatterns]] order — deterministic), and an
    * is_mixed flag (≥ 2 scripts present). Map-only regexp_count chain,
    * codegen'd, no shuffle; `length()` counts CODEPOINTS in both engines
    * so the bp denominators replay exactly. */
  def scriptMix(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counted = ScriptPatterns.foldLeft(
      df.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"),
        col(textCol).as("_t"))) {
      case (d, (name, pat)) =>
        d.withColumn(s"_c_$name", regexp_count(col("_t"), lit(pat)).cast("long"))
    }
    val names = ScriptPatterns.map(_._1)
    val bps = names.map(n =>
      expr(s"CASE WHEN n_chars = 0 THEN 0L ELSE (10000L * _c_$n) div n_chars END").as(s"${n}_bp"))
    val dominant = names.init.zipWithIndex.foldRight(lit(names.last): Column) {
      case ((n, i), rest) =>
        val geAll = names.drop(i + 1).map(m => col(s"_c_$n") >= col(s"_c_$m")).reduce(_ && _)
        when(geAll, lit(n)).otherwise(rest)
    }
    val nPresent = names.map(n => when(col(s"_c_$n") > 0L, 1L).otherwise(0L)).reduce(_ + _)
    counted.select(col(idCol) +: col("n_chars") +: bps :+
      dominant.as("dominant") :+
      (nPresent >= 2L).cast("long").as("is_mixed"): _*)
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * interpolated form per Chen & Goodman 1999) — the smoothing family
    * KenLM (and therefore the real CCNet pipeline) actually ships,
    * beside [[lmScore]]'s Laplace tier. Absolute discounting with
    * d = 0.75 (the canonical value, carried as the exact rational 3/4 so
    * everything stays integer): per bigram
    *
    *   P_KN(w2|w1) = max(c12 − d, 0)/c1 + λ(w1)·P_cont(w2)
    *   λ(w1) = d·N1+(w1,·)/c1       P_cont(w2) = N1+(·,w2)/B
    *
    * with N1+(w1,·) = distinct continuations of w1, N1+(·,w2) = distinct
    * left-contexts of w2, B = distinct bigrams. The continuation term is
    * the signal Laplace can't express: a word seen after MANY different
    * contexts backs off high, a word frequent in exactly ONE context
    * ("francisco") backs off low.
    *
    * Integer replay: ×4 clears the 3/4 discount —
    * term1_bp = 10000·max(4·c12 − 3, 0) div (4·c1) — and the backoff is
    * composed from two bp-bounded factors, λ_bp = 10000·3·nl div (4·c1)
    * and pcont_bp = 10000·nr div B, as (λ_bp·pcont_bp) div 10000: every
    * intermediate stays ≤ 10^8 REGARDLESS of corpus size (the fused
    * single-division form λ·pcont = 3·nl·nr·10^4/(4·c1·B) overflows
    * BIGINT once nl·nr passes ~10^14, i.e. a few hundred million
    * distinct bigrams — real at 100 TB). ≤1 bp composition loss, bit
    * identical in both engines. Per doc the same integer mean as
    * [[lmScore]]; minCount-pruned (OOV) bigrams score 0.
    *
    * Scale shape mirrors [[lmScore]]: ONE pinned bigram stream feeds all
    * four consumers — c2, the w1 aggregate (count and distinct
    * continuations in one pass), the w2 continuation aggregate, and the
    * scoring join; model relations are vocab²-bounded, B a 1-row
    * broadcast. */
  def lmScoreKneserNey(df: DataFrame, idCol: String, textCol: String,
                       minCount: Long = 1L): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val bigrams = Pin(df
      .withColumn("_toks", toks(col(textCol)))
      .filter(size(col("_toks")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(_toks) - 2), i -> struct(_toks[i] AS w1, _toks[i+1] AS w2))")).as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2")))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
      .filter(col("n2") >= minCount)
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("n1"),
      countDistinct(col("w2")).as("nl"))
    val nr = bigrams.groupBy("w2").agg(countDistinct(col("w1")).as("nr"))
    val b = bigrams.agg(countDistinct(col("w1"), col("w2")).as("nb"))
    val prob = c2.join(c1, "w1").join(nr, "w2").crossJoin(broadcast(b))
      .select(col("w1"), col("w2"),
        expr("""(10000 * greatest(4 * n2 - 3, 0L)) div (4 * n1)
               | + ((10000 * 3 * nl) div (4 * n1)) * ((10000 * nr) div nb) div 10000""".stripMargin)
          .as("kn_bp"))
    bigrams.join(prob, Seq("w1", "w2"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(coalesce(kn_bp, 0L)) div count(1)").as("kn_bp"))
  }

  /** Luhn-validated card-number detection — the checksum tier of the PII
    * family above [[redactPii]]'s shape-only regexes: a 16-digit run is
    * only flagged as a card when its Luhn checksum verifies (ISO/IEC
    * 7812), which separates real card numbers from order ids and
    * timestamps that merely LOOK like them — the precision gap shape
    * regexes can't close. Per document: all maximal digit runs, the
    * 16-digit candidates, the Luhn-valid count, and the flag. Pure
    * integer column math (digit extraction + the double-every-second
    * fold as one expression) — map-only, no UDF, RE2-safe pattern (no
    * lookarounds, so Java regex and DuckDB agree on run boundaries). */
  def luhnScan(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("_runs", expr(s"regexp_extract_all($textCol, '[0-9]+', 0)"))
      .withColumn("_cands", expr("filter(_runs, s -> length(s) = 16)"))
      .withColumn("n_digit_runs", expr("CAST(size(_runs) AS BIGINT)"))
      .withColumn("n_card_candidates", expr("CAST(size(_cands) AS BIGINT)"))
      // positions are 1-based from the left; with even length the doubled
      // set (every second from the RIGHT, check digit excluded) is
      // exactly the odd left positions
      .withColumn("n_luhn_valid", expr(
        """CAST(aggregate(_cands, 0L, (acc, s) -> acc +
          |  CASE WHEN aggregate(sequence(1, 16), 0L, (a, i) -> a +
          |    CASE WHEN i % 2 = 1
          |      THEN 2 * CAST(substring(s, i, 1) AS BIGINT)
          |        - CASE WHEN 2 * CAST(substring(s, i, 1) AS BIGINT) > 9 THEN 9 ELSE 0 END
          |      ELSE CAST(substring(s, i, 1) AS BIGINT) END) % 10 = 0
          |  THEN 1L ELSE 0L END) AS BIGINT)""".stripMargin))
      .withColumn("has_card", expr("CAST(n_luhn_valid > 0 AS BIGINT)"))
      .select(col(idCol), col("n_digit_runs"), col("n_card_candidates"),
        col("n_luhn_valid"), col("has_card"))

  /** Integer Flesch readability — the classic reading-ease score as an
    * exact milli-valued integer (206.835 − 1.015·words/sentence −
    * 84.6·syllables/word, all three ratios floor-divided in the milli
    * domain): a curation signal orthogonal to [[quality]]'s surface
    * ratios — junk legalese and OCR shred score far below prose.
    * Syllables use the standard vowel-group heuristic (maximal
    * `[aeiouy]+` runs), sentences the terminator-run count with a floor
    * of 1 so headline-only docs don't divide by zero. Map-only integer
    * column math; the score can go negative on pathological input and
    * is left unclamped (the caller thresholds). */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("_t", trim(regexp_replace(col(textCol), "\\s+", " ")))
      .withColumn("_toks", filter(split(lower(col("_t")), " "), t => t =!= ""))
      .withColumn("n_words", size(col("_toks")).cast("long"))
      .withColumn("n_sentences",
        greatest(expr("CAST(regexp_count(_t, '[.!?]+') AS BIGINT)"), lit(1L)))
      .withColumn("n_syllables", expr("CAST(regexp_count(lower(_t), '[aeiouy]+') AS BIGINT)"))
      .withColumn("words_per_sentence_milli", expr("(1000 * n_words) div n_sentences"))
      .withColumn("syllables_per_word_milli",
        expr("CASE WHEN n_words = 0 THEN 0L ELSE (1000 * n_syllables) div n_words END"))
      .withColumn("flesch_milli",
        expr("""CASE WHEN n_words = 0 THEN 0L
               |  ELSE 206835 - (1015 * n_words) div n_sentences
               |    - (84600 * n_syllables) div n_words END""".stripMargin))
      .select(col(idCol), col("n_words"), col("n_sentences"), col("n_syllables"),
        col("words_per_sentence_milli"), col("syllables_per_word_milli"), col("flesch_milli"))

  /** Fill-in-the-middle transformation (Bavarian et al. 2022 — the
    * code-LM pretraining op that teaches infilling): for a deterministic
    * 1-in-`rateMod` slice of documents, split the text at the ⅓ and ⅔
    * character offsets and emit the PSM reordering
    * `<|fim_pre|>prefix<|fim_suf|>suffix<|fim_mid|>middle`; the rest pass
    * through untouched (the FIM-rate knob — 0.5 matches the paper's
    * recommended setting at rateMod=2). Split points are pure integer char
    * arithmetic, so the transform replays exactly; output carries the
    * md5 of the (possibly reframed) text rather than the text itself so
    * the QA row stays narrow. Map-only, one pass, no shuffle. */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
                   rateMod: Int = 2): DataFrame = {
    require(rateMod >= 1, s"fimTransform rateMod must be >= 1, got $rateMod")
    df.withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("_p1", expr("n_chars div 3"))
      .withColumn("_p2", expr("(2 * n_chars) div 3"))
      .withColumn("transformed", expr(
        s"CAST(CASE WHEN $idCol % $rateMod = 0 AND n_chars >= 3 THEN 1 ELSE 0 END AS BIGINT)"))
      .withColumn("fim_text", expr(
        s"""CASE WHEN transformed = 1
           |  THEN '<|fim_pre|>' || substring($textCol, 1, CAST(_p1 AS INT))
           |    || '<|fim_suf|>' || substring($textCol, CAST(_p2 AS INT) + 1, CAST(n_chars - _p2 AS INT))
           |    || '<|fim_mid|>' || substring($textCol, CAST(_p1 AS INT) + 1, CAST(_p2 - _p1 AS INT))
           |  ELSE $textCol END""".stripMargin))
      .select(col(idCol), col("transformed"), col("n_chars"),
        expr("CAST(length(fim_text) AS BIGINT)").as("fim_chars"),
        md5(col("fim_text")).as("fim_md5"))
  }

  /** Code-file quality gates (the StarCoder/SantaCoder filter battery —
    * the code-corpus analogue of [[gopherRules]]): per document the line
    * geometry (count, max and mean line length), alphanumeric density in
    * bp, machine-blob detection (a ≥`blobRun`-char run of base64/hex
    * alphabet — minified or embedded-binary payloads), and an
    * auto-generated-file marker scan; `code_pass` is the conjunctive
    * gate. All map-only integer column math over one scan — no shuffle,
    * no UDF, the whole battery stays inside one codegen stage. Mean line
    * length sums the line lengths (newline chars excluded) and floors;
    * `split` of an empty text yields one empty line so the divisor is
    * never zero. */
  def codeFilters(df: DataFrame, idCol: String, textCol: String,
                  maxLineLen: Long = 1000L, maxAvgLineLen: Long = 100L,
                  minAlnumBp: Long = 2500L, blobRun: Int = 64): DataFrame =
    df.select(col(idCol), col(textCol).as("_t"))
      .withColumn("_lines", split(col("_t"), "\n"))
      .withColumn("n_lines", size(col("_lines")).cast("long"))
      .withColumn("n_chars", length(col("_t")).cast("long"))
      .withColumn("max_line_len",
        expr("CAST(coalesce(array_max(transform(_lines, l -> length(l))), 0) AS BIGINT)"))
      .withColumn("avg_line_len",
        expr("aggregate(_lines, 0L, (a, l) -> a + length(l)) div n_lines"))
      .withColumn("alnum_bp",
        expr("CASE WHEN n_chars = 0 THEN 0L ELSE (10000 * regexp_count(_t, '[A-Za-z0-9]')) div n_chars END"))
      .withColumn("n_blobs",
        expr(s"CAST(regexp_count(_t, '[A-Za-z0-9+/=]{$blobRun,}') AS BIGINT)"))
      .withColumn("autogen",
        expr("CASE WHEN contains(lower(_t), 'auto-generated') OR contains(lower(_t), 'do not edit') THEN 1L ELSE 0L END"))
      .withColumn("code_pass",
        expr(s"""CAST(max_line_len <= $maxLineLen AND avg_line_len <= $maxAvgLineLen
                |  AND alnum_bp >= $minAlnumBp AND n_blobs = 0 AND autogen = 0 AS LONG)""".stripMargin))
      .select(col(idCol), col("n_lines"), col("n_chars"), col("max_line_len"),
        col("avg_line_len"), col("alnum_bp"), col("n_blobs"), col("autogen"), col("code_pass"))

  /** Collocation extraction (word2phrase-style phrase mining, Mikolov et
    * al. 2013): the top-k adjacent word pairs by discounted PMI-style
    * score — the table a phrase-aware vocab / tokenizer merge list is
    * seeded from. score_q = (c(w1,w2) − δ)·N·10⁴ div (c(w1)·c(w2)) in
    * the exact integer domain (N = total token count), so every rank
    * replays bit-for-bit in the oracle; the δ discount suppresses
    * rare-pair flukes and `minCount` gates the candidate set.
    *
    * Scale shape: ONE corpus scan — each doc emits its unigrams and its
    * adjacent bigrams as one tagged event array, one explode, one count
    * shuffle. The (kind, w1, w2) count relation is vocab-sized and
    * lazily pinned (two consumers: the unigram side and the bigram
    * side — unpinned, Catalyst would re-run the corpus explode twice).
    * The bigram side is filtered to `minCount` survivors BEFORE the two
    * vocab joins, the 1-row token total is broadcast, and the final
    * ordered take is top-k, never a full sort. Nothing after the first
    * aggregate touches the corpus. Overflow bound: needs
    * (c(pair)−δ)·N·10⁴ < 2⁶³ — holds to N ≈ 10¹⁴ tokens even for a
    * pair seen 10⁴ times with both words corpus-dominant. */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
                   discount: Long = 1L, topK: Int = 20): DataFrame = {
    require(minCount > discount, s"minCount ($minCount) must exceed discount ($discount)")
    val t = df.select(toks(col(textCol)).as("_toks"))
    // tagged union: unigram events + bigram events in one array. For a
    // 1-token doc the bigram transform indexes past the end — `get()`
    // NULLs the out-of-bounds access (bracket indexing raises in Spark 4)
    // and the null-w2 rows are dropped below
    val events = t.select(explode(expr(
      """concat(
        |  transform(_toks, w -> named_struct('kind', 'u', 'w1', w, 'w2', CAST(NULL AS STRING))),
        |  transform(sequence(0, greatest(size(_toks), 2) - 2),
        |    i -> named_struct('kind', 'b', 'w1', get(_toks, i), 'w2', get(_toks, i + 1))))""".stripMargin)).as("e"))
      .select(col("e.kind").as("kind"), col("e.w1").as("w1"), col("e.w2").as("w2"))
      .filter(col("kind") === "u" || col("w2").isNotNull)
    val counts = Pin(events.groupBy(col("kind"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))) // vocab-sized; unigram + bigram consumers
    val uni = counts.filter(col("kind") === "u").select(col("w1").as("w"), col("n"))
    val totals = uni.agg(sum(col("n")).as("n_tokens"))
    counts.filter(col("kind") === "b" && col("n") >= minCount)
      .select(col("w1"), col("w2"), col("n").as("n_pair"))
      .join(uni.select(col("w").as("w1"), col("n").as("n_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("n").as("n_w2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("score_q",
        expr(s"((n_pair - $discount) * n_tokens * 10000) div (n_w1 * n_w2)"))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"), col("score_q"))
      .orderBy(col("score_q").desc, col("w1"), col("w2"))
      .limit(topK)
  }
}
