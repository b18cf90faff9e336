package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * quality scoring, language ID, document fingerprinting.
  *
  * All hot-path logic is built from codegen'd builtins (split, filter,
  * transform, aggregate, regexp_replace, xxhash64) — no UDFs — so each
  * operator is a single whole-stage-codegen'd projection over the scan:
  * at 100 TB these run at parquet-read speed with zero shuffle.
  */
object Text {

  /** Whitespace tokens with empties removed (leading/trailing/double
    * spaces produce empty strings from split; drop them).
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= lit(""))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Token-bounded overlapping chunks: chunk i covers tokens
    * [i·(size−overlap), i·(size−overlap)+size). The context-window
    * splitter every training pipeline needs — a document longer than the
    * model context becomes ⌈(n−overlap)/(size−overlap)⌉ chunks sharing
    * `overlap` boundary tokens, one per array element (posexplode for
    * (chunk_idx, chunk) rows). Pure HOF expressions: chunking runs at
    * scan speed with zero shuffle, and the token array binds once via
    * the single-element-array trick (Catalyst does not CSE across
    * lambda boundaries). Engine-portable: integer div only touches
    * non-negative numerators (greatest(1, ·) clamps before trunc-vs-
    * floor semantics could diverge).
    */
  def chunks(textColName: String, size: Int, overlap: Int): Column = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val step = size - overlap
    val toks = s"filter(split(trim($textColName), '\\\\s+'), t -> t != '')"
    expr(
      s"flatten(transform(array($toks), ts -> " +
        s"transform(sequence(0, CAST(greatest(1, (size(ts) - $overlap + ${step - 1}) div $step) AS INT) - 1), " +
        s"i -> concat_ws(' ', slice(ts, i * $step + 1, $size)))))")
  }

  /** A BPE-ish subword count: word tokens plus an extra unit per 4 chars
    * of long words (cheap proxy for subword splitting; deterministic).
    */
  def subwordCount(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + lit(1L) + floor(length(t) / lit(8)).cast("long"))

  /** GPT-2-style pre-tokenizer pattern (ASCII simplification): a token
    * is an optionally-space-prefixed letter run, digit run, or
    * punctuation run. This is the unit count a BPE tokenizer would start
    * from; `regexp_extract_all` keeps it codegen'd.
    */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "by", "at", "from")

  /** Integer-valued quality metrics (ratios are left to the caller so
    * results stay exactly comparable across engines): char/token counts,
    * total token chars, punctuation chars, digit chars, stopword hits.
    */
  def qualityMetrics(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val stop = typedLit(DefaultStopwords)
    df.select(
      col(idCol),
      length(t).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      aggregate(toks, lit(0L), (acc, x) => acc + length(x).cast("long")).as("token_chars"),
      length(regexp_replace(t, "[^.!?,;:]", "")).cast("long").as("punct_chars"),
      length(regexp_replace(t, "[^0-9]", "")).cast("long").as("digit_chars"),
      size(filter(toks, x => array_contains(stop, x))).cast("long").as("stopword_hits"))
  }

  /** Language-ID by stopword-list voting: score = number of tokens in
    * each language's marker list; winner = highest score, ties broken by
    * language code order. Pure column expressions; per-language lists are
    * literals broadcast with the plan.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "es", "en", "un", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de", "que", "en", "un", "une"),
    "zh" -> Seq("de", "le", "shi", "zai", "you", "wo", "ta", "men", "zhe", "na"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(lower(text))
    LangMarkers.map { case (lang, words) =>
      lang -> size(filter(toks, t => array_contains(typedLit(words), t))).cast("long")
    }
  }

  def langId(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val scores = langScores(col(textCol))
    // argmax with deterministic lexical tie-break: fold over languages,
    // keep the first language whose score equals the max
    val maxScore = greatest(scores.map(_._2): _*)
    val predicted = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(lang)).otherwise(acc)
    }
    df.select(col(idCol) +: scores.map { case (l, s) => s.as(s"score_$l") }
      :+ predicted.as("lang_pred"): _*)
  }

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD'03):
    * hash all character k-grams, take the minimum hash in each sliding
    * window of w hashes, distinct + sort the picks. Output: array of
    * fingerprint hashes per document. Entirely expression-based
    * (substring/transform/array_min over sequence), so it rides the scan.
    */
  /** PII scrubbing for training corpora: emails and long digit runs
    * (ids/phone/card numbers) replaced with typed placeholder tokens.
    * RE2-compatible patterns (no lookaround), so the same regexes run
    * in any engine; emails redact FIRST so their digit runs don't also
    * match the number pattern.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberPattern = "[0-9]{9,}"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      LongNumberPattern, "<NUMBER>")

  def piiCounts(text: Column): (Column, Column) = (
    size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long"),
    size(regexp_extract_all(text, lit(LongNumberPattern), lit(0))).cast("long"))

  /** Corpus term statistics — the TF-IDF base table: per term, document
    * frequency and total term frequency. One explode + one aggregation;
    * partial aggregation (map-side combine) keeps the shuffle at
    * |vocabulary| keys, not |tokens| rows.
    */
  def termStats(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__doc"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("__doc")).as("doc_freq"),
        count(lit(1)).as("term_freq_total"))

  /** TF-IDF scores per (doc, term): tf · ln(N/df). The doc-frequency
    * side is a broadcast-sized aggregate (|vocabulary| rows), so the
    * join adds no shuffle on the corpus side beyond the tf groupBy.
    * Scores are doubles — for engine-exact comparisons use `termStats`
    * (integer counts) and derive scores downstream.
    */
  def tfIdf(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // N rides the plan as a scalar subquery — constructing the frame
    // launches no job, and N is computed inside the one execution
    val nDocs = df.select(countDistinct(col(idCol)).cast("double")).scalar()
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val stats = termStats(df, textCol, idCol).select(col("term"), col("doc_freq"))
    tf.join(broadcast(stats), "term")
      .withColumn("tf_idf", col("tf") * log(nDocs / col("doc_freq")))
  }

  /** BM25 retrieval scores for a fixed query-term set over the corpus
    * (Robertson/Spärck Jones; the lexical-retrieval baseline every
    * data-curation stack keeps next to its embedding index).
    *
    * Per document: score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Scale: per-term tf and dl are scan-side expressions (the query set
    * is a handful of terms — one `size(filter(...))` each, no explode);
    * the only corpus pass beyond the scan is ONE single-row aggregate
    * (N, avgdl, per-term df) that joins back as a scalar broadcast.
    * Nothing shuffles by term; documents never leave their partitions.
    *
    * Output: (idCol, dl, n_matched, score) — `score` is a double whose
    * last ulp depends on the engine's ln; gates should pin the integer
    * columns and the score ORDER, not the raw float (see q_bm25).
    */
  def bm25(df: DataFrame, textCol: String, idCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 64,
      s"queryTerms must be 1..64 scan-side expressions, got ${queryTerms.size}")
    val reserved = Set("dl", "n_matched", "score") ++
      queryTerms.indices.flatMap(i => Seq(s"__tf_$i", s"__df_$i")) ++
      Set("__n", "__avgdl")
    for (c <- df.columns if reserved(c) && c != idCol)
      throw new IllegalArgumentException(
        s"bm25: column $c collides with a reserved internal/output name")
    val toks = tokens(col(textCol))
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      size(filter(toks, x => x === lit(t))).cast("long").as(s"__tf_$i")
    }
    val base = df.select(col(idCol) +: size(toks).cast("long").as("dl") +: tfCols: _*)
    val statAggs = count(lit(1)).cast("double").as("__n") +:
      avg(col("dl")).as("__avgdl") +:
      queryTerms.indices.map(i =>
        sum((col(s"__tf_$i") > 0).cast("double")).as(s"__df_$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
    val perTerm = queryTerms.indices.map { i =>
      val tf = col(s"__tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df_$i") + lit(0.5)) / (col(s"__df_$i") + lit(0.5)))
      idf * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl")))
    }
    scored.select(col(idCol), col("dl"),
      queryTerms.indices.map(i => (col(s"__tf_$i") > 0).cast("int"))
        .reduce(_ + _).cast("long").as("n_matched"),
      perTerm.reduce(_ + _).as("score"))
  }

  /** Per-document unigram language-model statistics against a corpus-
    * derived model — the distributed half of a perplexity-style quality
    * filter. The model is the corpus's own term-frequency table (or any
    * other count table with (term, term_freq_total)); per document this
    * returns the INTEGER sufficient statistics:
    *
    *   n_tokens    — document length in tokens
    *   n_oov       — tokens whose corpus count < minCount
    *   sum_tf      — Σ over tokens of the term's corpus count
    *   sum_log_tf  — Σ ln(count) over in-vocabulary tokens (double)
    *
    * avg log-prob = (sum_log_tf − n_invocab·ln(C))/n_tokens follows by
    * row-local math; keeping the gate on the integer columns makes the
    * distributed part engine-exact while the ln stays a per-row detail
    * (libm last-ulp differences must not fail a corpus-size join).
    *
    * Scale: one token explode + shuffle join against the model on the
    * term key, one groupBy per doc. The model table is NOT broadcast by
    * force — at web scale the vocabulary outgrows a broadcast; Catalyst
    * still picks broadcast when the model fits.
    */
  def unigramStats(df: DataFrame, textCol: String, idCol: String,
                   model: DataFrame, minCount: Long = 2L): DataFrame = {
    require(idCol != "term" && idCol != "term_freq_total",
      "term/term_freq_total are reserved by the model join — rename the id column")
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    tok.join(model.select(col("term"), col("term_freq_total")), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum((coalesce(col("term_freq_total"), lit(0L)) < minCount).cast("long"))
          .as("n_oov"),
        sum(coalesce(col("term_freq_total"), lit(0L))).as("sum_tf"),
        sum(when(coalesce(col("term_freq_total"), lit(0L)) >= minCount,
          log(col("term_freq_total").cast("double"))).otherwise(lit(0.0)))
          .as("sum_log_tf"))
  }

  /** Canonical text normalization — step 0 of every corpus pipeline,
    * and the key-preparation pass for exact dedup (un-normalized exact
    * dedup misses case/whitespace variants of the same document):
    * control characters → space, whitespace runs collapsed to one
    * space, trimmed, lowercased. ASCII-scoped patterns on purpose: the
    * result is engine-portable (RE2/Java regex agree), where Unicode
    * case folding would diverge by ICU version.
    */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1F\\x7F]", " "), "\\s+", " ")))

  /** Top-k vocabulary of BPE pre-tokenizer units by corpus frequency —
    * the seed table a subword-tokenizer build starts from. One unit
    * explode + one hash aggregate (map-side partial keeps the shuffle
    * at |unit vocabulary| keys); the top-k is orderBy+limit, which
    * plans TakeOrderedAndProject (per-partition top-k, driver merge) —
    * no global sort, no single-partition window. Ties break by unit
    * text for determinism.
    */
  def bpeVocab(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.select(explode(regexp_extract_all(col(textCol), lit(BpePattern), lit(0)))
        .as("unit"))
      .groupBy(col("unit"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("unit").asc)
      .limit(k)
  }

  /** Zipf coverage checkpoints — the tokenizer-sizing curve: for each
    * vocabulary size `k`, how many of the corpus's token OCCURRENCES the
    * top-k terms (by frequency, ties by term) cover. One row per
    * checkpoint: (k, n_vocab, covered_tf, total_tf, n_terms) — n_vocab
    * < k means the whole vocabulary fits; covered_tf/total_tf is the
    * coverage ratio, left as exact integers. Deciding "is a 32k vocab
    * enough for this corpus" is this table read off at the candidate
    * sizes.
    *
    * Scale shape: one token explode + hash aggregate to term counts
    * (map-side partials keep the shuffle at |vocabulary| keys), then
    * per checkpoint a TakeOrderedAndProject top-k (per-partition heads,
    * driver merge — no global sort) feeding a scalar aggregate; the
    * 1-row corpus total broadcasts onto the checkpoint rows. The term
    * count aggregate re-runs per checkpoint — checkpoints are a
    * handful, and re-aggregating beats caching a vocabulary-sized
    * frame at 100 TB.
    */
  def vocabCoverage(df: DataFrame, textCol: String, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"need positive checkpoints, got $ks")
    val counts = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = counts.agg(sum(col("tf")).as("total_tf"),
      count(lit(1)).as("n_terms"))
    ks.map { k =>
      counts.orderBy(col("tf").desc, col("term").asc).limit(k)
        .agg(coalesce(sum(col("tf")), lit(0L)).as("covered_tf"),
          count(lit(1)).as("n_vocab"))
        .select(lit(k.toLong).as("k"), col("n_vocab"), col("covered_tf"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(total))
  }

  /** Adjacent-token bigrams as an array column. The token array binds
    * once via the single-element-array trick (see chunks); a doc with
    * fewer than 2 tokens yields an empty array.
    */
  def bigrams(textColName: String): Column = {
    val toks = s"filter(split(trim($textColName), '\\\\s+'), t -> t != '')"
    // the short-doc arm must be EXPLICIT: Spark's sequence(1, 0) is a
    // DESCENDING [1, 0] (not empty), and element_at(ts, 0) throws under
    // every mode — a single empty/one-token document would abort the job
    expr(s"flatten(transform(array($toks), ts -> " +
      "CASE WHEN size(ts) < 2 THEN CAST(array() AS ARRAY<STRING>) " +
      "ELSE transform(sequence(1, size(ts) - 1), " +
      "i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1))) END))")
  }

  /** Bigram analog of [[unigramStats]]: per document, integer sufficient
    * statistics against a (term, term_freq_total) bigram model — the
    * order-sensitive half of an n-gram-LM quality filter (a unigram
    * model cannot see scrambled text; a bigram model can). Documents
    * with fewer than 2 tokens produce no row (they have no bigrams),
    * matching unigramStats' explode semantics for empty docs.
    */
  def bigramStats(df: DataFrame, textCol: String, idCol: String,
                  model: DataFrame, minCount: Long = 2L): DataFrame = {
    require(idCol != "term" && idCol != "term_freq_total",
      "term/term_freq_total are reserved by the model join — rename the id column")
    val big = df.select(col(idCol), explode(bigrams(textCol)).as("term"))
    big.join(model.select(col("term"), col("term_freq_total")), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum((coalesce(col("term_freq_total"), lit(0L)) < minCount).cast("long"))
          .as("n_oov"),
        sum(coalesce(col("term_freq_total"), lit(0L))).as("sum_tf"))
  }

  /** Corpus bigram counts — the model table for [[bigramStats]], same
    * shape as [[termStats]] restricted to what an LM join needs.
    */
  def bigramModel(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(bigrams(textCol)).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("term_freq_total"))

  /** Shared winnowing shape: the gram-hash array is wrapped in a
    * single-element array and re-bound as a lambda variable, so it is
    * materialized ONCE per row — referencing `$grams` directly inside
    * the window-min lambda would re-evaluate the whole hash array per
    * window position (O(n²) hashes per document).
    */
  private def winnow(grams: String, w: Int): Column =
    expr(s"array_sort(array_distinct(flatten(transform(array($grams), g -> " +
      s"transform(sequence(1, greatest(size(g) - ${w - 1}, 1))," +
      s" i -> array_min(slice(g, i, $w)))))))")

  def fingerprintExpr(textColName: String, k: Int = 8, w: Int = 4): Column =
    winnow(s"transform(sequence(1, greatest(length($textColName) - ${k - 1}, 1))," +
      s" i -> xxhash64(substring($textColName, i, $k)))", w)

  /** Winnowing with a portable k-gram hash: the first 15 hex chars of
    * md5 parsed as a 60-bit integer, computable bit-identically in any
    * engine with md5 — the oracle-checked gate variant of
    * `fingerprintExpr` (which keeps xxhash64 as the fast default).
    */
  def fingerprintPortableExpr(textColName: String, k: Int = 8, w: Int = 4): Column =
    winnow(s"transform(sequence(1, greatest(length($textColName) - ${k - 1}, 1))," +
      s" i -> CAST(conv(substring(md5(substring($textColName, CAST(i AS INT), $k)), 1, 15), 16, 10) AS BIGINT))", w)

  /** Batch lexical retrieval: top-k documents per query over a QUERY
    * TABLE — the many-query generalization of [[bm25]] (which pins a
    * handful of terms as scan-side columns). This is the shape a
    * dedup-against-eval or retrieval-labelling pass actually has: tens
    * of thousands of queries joined against the corpus at once.
    *
    * `queries` is (queryIdCol, termCol) — one row per query term.
    * Matching is postings-style: the corpus explodes ONCE to
    * (doc, term, tf) postings, the query table joins on the term key
    * (shuffle-by-term — both sides scale; neither is force-broadcast,
    * so a million-query batch survives), and per (query, doc) the match
    * aggregates to integer evidence: `n_matched` (distinct query terms
    * present) and `sum_tf` (total matched occurrences). The final
    * per-query top-k is [[graft.operators.Sampling.capPerGroup]] — the
    * salted two-stage rank, so one query matching half the corpus
    * cannot pin a single task.
    *
    * Ranking is (n_matched desc, sum_tf desc, doc_id) — all-integer and
    * therefore engine-exact; float scoring (BM25 weights) belongs
    * downstream on the surviving k·|queries| rows where its cost and
    * its ulp-sensitivity are both bounded.
    */
  def retrievalTopK(df: DataFrame, textCol: String, idCol: String,
                    queries: DataFrame, queryIdCol: String, termCol: String,
                    k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(idCol != queryIdCol,
      s"doc id and query id must have distinct names, both are '$idCol'")
    val reserved = Seq("term", "dl", "tf", "n_matched", "sum_tf")
    require(!Seq(idCol, queryIdCol).exists(reserved.contains),
      s"ids may not use reserved names ${reserved.mkString(", ")}")
    val postings = df
      .select(col(idCol), size(tokens(col(textCol))).cast("long").as("dl"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
    val q = queries.select(col(queryIdCol), col(termCol).as("term")).distinct()
    postings.join(q, Seq("term"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(max(col("dl")).as("dl"),
        count(lit(1)).as("n_matched"),
        sum(col("tf")).as("sum_tf"))
      .transform(j => graft.operators.Sampling.capPerGroup(j,
        groupCols = Seq(queryIdCol),
        rankBy = Seq(-col("n_matched"), -col("sum_tf"), col(idCol)),
        k = k, rankName = "rank"))
  }

  /** Term-distribution drift between two corpora — the
    * snapshot-comparison gate of a training-data pipeline ("did this
    * month's crawl shift vocabulary against last month's?", "what did
    * the quality filter remove?"). For each term with counts c_a, c_b
    * against corpus totals N_a, N_b, the score is the cross-multiplied
    * proportion gap |c_a·N_b − c_b·N_a| — the numerator of
    * |c_a/N_a − c_b/N_b| over the common denominator, kept as an EXACT
    * integer so ranking has no float tie ambiguity across engines.
    * Returns the top-k drifted terms (score desc, term asc).
    *
    * Scale shape: two term-count aggregates (map-side partial to
    * |vocab| keys), a full-outer join on the term key (both sides
    * vocab-sized, shuffle-by-term — web-scale vocab survives; nothing
    * force-broadcasts), two 1-row totals riding as broadcast scalars,
    * and TakeOrderedAndProject for the top-k (per-partition heads, no
    * global sort). Counts are cross-multiplied in DECIMAL(38,0): two
    * exact 9.2e18-bounded longs can overflow their product, and ANSI
    * mode would abort the job — decimal keeps it exact to 1e38.
    */
  def termDrift(dfA: DataFrame, dfB: DataFrame, textCol: String,
                k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    def counts(d: DataFrame, name: String): DataFrame =
      d.select(explode(tokens(col(textCol))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as(name))
    val ca = counts(dfA, "c_a")
    val cb = counts(dfB, "c_b")
    val na = ca.agg(coalesce(sum(col("c_a")), lit(0L)).as("__n_a"))
    val nb = cb.agg(coalesce(sum(col("c_b")), lit(0L)).as("__n_b"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    ca.join(cb, Seq("term"), "full_outer")
      .na.fill(0L, Seq("c_a", "c_b"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .withColumn("drift",
        abs(dec(col("c_a")) * dec(col("__n_b")) - dec(col("c_b")) * dec(col("__n_a")))
          .cast("decimal(38,0)"))
      .select(col("term"), col("c_a"), col("c_b"), col("drift"))
      .orderBy(col("drift").desc, col("term").asc)
      .limit(k)
  }

  /** Per-language perplexity-proxy bucketing (the CCNet recipe: score
    * each document against a language model, split each language's
    * corpus into head/middle/tail terciles, train on the head). The
    * proxy score is avg corpus term frequency sum_tf/n_tokens from
    * [[unigramStats]] — higher = more typical text = "lower perplexity"
    * — computed as ONE IEEE double division, which is bit-exact in any
    * binary64 engine (unlike ln/exp, whose libm varies), so the derived
    * ORDERING is engine-portable and the gate can pin ntile output.
    *
    * This is the EXACT tier: ntile needs a total order per language, so
    * each language sorts within its window partition — fine for bounded
    * per-language corpora and for the oracle gate; at 100 TB per
    * language use [[pplBucketsApprox]], which replaces the sort with
    * approx-percentile cutoffs and assigns buckets scan-side.
    *
    * Docs with zero tokens have no unigram rows and produce no output;
    * `idCol` must be unique (the stats re-attach by id).
    */
  def pplBuckets(df: DataFrame, textCol: String, idCol: String,
                 langCol: String, model: DataFrame, minCount: Long = 2L,
                 buckets: Int = 3): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val stats = unigramStats(df, textCol, idCol, model, minCount)
    val scored = stats.join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("__common",
        col("sum_tf").cast("double") / col("n_tokens").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol))
      .orderBy(col("__common").desc, col(idCol).asc)
    scored
      .withColumn("bucket", ntile(buckets).over(w).cast("long"))
      .select(col(idCol), col(langCol), col("n_tokens"), col("bucket"))
  }

  /** Scale tier of [[pplBuckets]]: per language, take `buckets − 1`
    * approx-percentile cutoffs of the commonness score (one tiny
    * |langs|-row aggregate), broadcast them back, and assign each doc's
    * bucket by comparison — no per-language sort, no window; the
    * assignment rides the scan. Bucket b gets scores in the
    * (1−b/buckets, 1−(b−1)/buckets] percentile band, so bucket 1 is the
    * head as in the exact tier; boundary docs may land one bucket off
    * versus ntile (percentile estimation error), which is the accepted
    * trade at scale.
    */
  def pplBucketsApprox(df: DataFrame, textCol: String, idCol: String,
                       langCol: String, model: DataFrame, minCount: Long = 2L,
                       buckets: Int = 3): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val stats = unigramStats(df, textCol, idCol, model, minCount)
    val scored = stats.join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("__common",
        col("sum_tf").cast("double") / col("n_tokens").cast("double"))
    val pcts = typedLit((1 until buckets).map(b => 1.0 - b.toDouble / buckets))
    val cuts = scored.groupBy(col(langCol))
      .agg(percentile_approx(col("__common"), pcts, lit(10000)).as("__cuts"))
    scored.join(broadcast(cuts), Seq(langCol))
      .withColumn("bucket",
        (lit(1L) + aggregate(col("__cuts"), lit(0L),
          (acc, c) => acc + (col("__common") <= c).cast("long"))))
      .select(col(idCol), col(langCol), col("n_tokens"), col("bucket"))
  }

  /** Pruned vocabulary as a driver-side map: top `maxVocab` terms of a
    * [[termStats]] model by corpus frequency (ties by term) — the
    * fixed-model artifact the streaming tier broadcasts. This is
    * CCNet's deployment shape: documents score against a FIXED small
    * LM shipped with the job, not against the live corpus.
    */
  def vocabMap(model: DataFrame, maxVocab: Int = 1 << 16): Map[String, Long] =
    model.select(col("term"), col("term_freq_total"))
      .orderBy(col("term_freq_total").desc, col("term").asc)
      .limit(maxVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Per-language commonness cutoffs trained once on a batch corpus —
    * the tiny artifact [[pplAssignStatic]] applies. Same percentile
    * recipe as [[pplBucketsApprox]] (approx cutoffs, no per-language
    * sort); languages are few, so collecting is a bounded driver step.
    */
  def pplCutoffMap(df: DataFrame, textCol: String, idCol: String,
                   langCol: String, model: DataFrame, minCount: Long = 2L,
                   buckets: Int = 3): Map[String, Seq[Double]] = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val stats = unigramStats(df, textCol, idCol, model, minCount)
    val scored = stats.join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("__common",
        col("sum_tf").cast("double") / col("n_tokens").cast("double"))
    val pcts = typedLit((1 until buckets).map(b => 1.0 - b.toDouble / buckets))
    scored.groupBy(col(langCol))
      .agg(percentile_approx(col("__common"), pcts, lit(10000)).as("__cuts"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap
  }

  /** Persist the train-once curation model ([[vocabMap]] +
    * [[pplCutoffMap]]) as two parquet frames under `path` (`vocab/`,
    * `cutoffs/`). Parquet longs/doubles round-trip bit-exactly, so a
    * loaded model reproduces every [[pplAssignStatic]] bucket of the
    * session that trained it (TextSpec pins this) — the same
    * train-on-batch / apply-on-stream contract the IVF/PQ codebooks
    * have via their save/load.
    */
  def saveLmModel(spark: org.apache.spark.sql.SparkSession, path: String,
                  vocab: Map[String, Long],
                  cuts: Map[String, Seq[Double]]): Unit = {
    import spark.implicits._
    vocab.toSeq.toDF("term", "term_freq_total")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/vocab")
    cuts.toSeq.toDF("lang", "cuts")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cutoffs")
  }

  /** Load a model written by [[saveLmModel]]. Duplicate terms or
    * languages mean a torn or foreign directory — rejected loudly.
    */
  def loadLmModel(spark: org.apache.spark.sql.SparkSession,
                  path: String): (Map[String, Long], Map[String, Seq[Double]]) = {
    val vRows = spark.read.parquet(s"$path/vocab")
      .select(col("term"), col("term_freq_total"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val cRows = spark.read.parquet(s"$path/cutoffs")
      .select(col("lang"), col("cuts"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toSeq)
    require(vRows.nonEmpty, s"no vocab rows at $path/vocab")
    require(cRows.nonEmpty, s"no cutoff rows at $path/cutoffs")
    require(vRows.map(_._1).distinct.length == vRows.length,
      s"duplicate vocab terms at $path/vocab")
    require(cRows.map(_._1).distinct.length == cRows.length,
      s"duplicate cutoff languages at $path/cutoffs")
    (vRows.toMap, cRows.toMap)
  }

  /** Stateless perplexity-bucket assignment against a FIXED vocab map
    * and pre-trained per-language cutoffs: the commonness score
    * (sum_tf / n_tokens, the same single IEEE division as the batch
    * tier) and the bucket fold are pure scan-side expressions over
    * literal maps, so this runs UNCHANGED on a Structured Streaming
    * source — append mode, zero state, no stream-side aggregation.
    * With `vocab` covering the corpus vocabulary the assignment is
    * row-identical to [[pplBucketsApprox]] on the training corpus
    * (spec'd); rows with zero tokens or a language absent from `cuts`
    * drop, mirroring the batch tier's stats/lang inner joins.
    */
  def pplAssignStatic(df: DataFrame, textCol: String, idCol: String,
                      langCol: String, vocab: Map[String, Long],
                      cuts: Map[String, Seq[Double]]): DataFrame = {
    require(cuts.nonEmpty, "pplAssignStatic needs at least one language cutoff")
    val vm = typedLit(vocab)
    val cm = typedLit(cuts)
    df.select(col(idCol), col(langCol), tokens(col(textCol)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      // try_element_at, not element_at: ANSI mode throws on missing keys
      .withColumn("__sum_tf", aggregate(col("__toks"), lit(0L),
        (acc, t) => acc + coalesce(try_element_at(vm, t), lit(0L))))
      .withColumn("__cuts", try_element_at(cm, col(langCol)))
      .filter(col("__cuts").isNotNull)
      .withColumn("__common",
        col("__sum_tf").cast("double") / col("n_tokens").cast("double"))
      .withColumn("bucket", lit(1L) + aggregate(col("__cuts"), lit(0L),
        (acc, c) => acc + (col("__common") <= c).cast("long")))
      .select(col(idCol), col(langCol), col("n_tokens"), col("bucket"))
  }

  /** DSIR hashed n-gram features (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): word unigrams and
    * bigrams hash into a fixed number of buckets; the output is one
    * (id, bucket, n) row per non-empty bucket. The bucket hash is the
    * portable 60-bit md5 prefix (same recipe as
    * [[fingerprintPortableExpr]]) mod `buckets`, so counts are
    * engine-exact and the gate hash-checks them.
    *
    * Scale shape: one gram explode to (id, bucket) pairs — two
    * integers, never text — and one count aggregation; the feature
    * space is fixed-width by construction, which is the point of
    * hashed features at corpus scale.
    */
  def dsirFeatures(df: DataFrame, textCol: String, idCol: String,
                   buckets: Int = 64): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // bigrams via double-slice zip_with: the lambda sees its elements as
    // ARGUMENTS. An element_at(toks, i) form would re-evaluate the whole
    // tokenization per element (O(n²) per document — measured 7× the
    // query cost at bench scale)
    val toks = col("__toks")
    val bigrams = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(concat(toks, bigrams)).as("__g"))
      .select(col(idCol),
        pmod(graft.functions.md5Prefix60(col("__g")), lit(buckets.toLong)).as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("n"))
  }

  /** DSIR importance weights: Σ_b n_b · (ln p̂_b − ln q̂_b), the
    * log-likelihood ratio of the document's hashed-feature counts under
    * the TARGET distribution (what you want more of) vs the RAW
    * distribution (what you have), both add-one smoothed. Resampling
    * keeps the highest-weight documents (or Gumbel-perturbs the weights
    * — the caller's choice; the weight is the published quantity).
    *
    * `feats`/`targetFeats` are [[dsirFeatures]] frames. The two
    * distributions reduce to `buckets` rows each and ride a broadcast
    * join; the weight is one aggregation over the raw feature rows.
    * Output: (id, dsir_weight double) — ln is libm, so this column
    * stays OUT of oracle gates (DsirSpec pins it against a local
    * replica instead).
    */
  def dsirWeights(feats: DataFrame, targetFeats: DataFrame,
                  idCol: String, buckets: Int = 64): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def dist(f: DataFrame, nameAs: String): DataFrame =
      f.groupBy(col("bucket")).agg(sum(col("n")).as("__c"))
        .crossJoin(broadcast(f.agg(sum(col("n")).as("__tot"))))
        .select(col("bucket"),
          ((col("__c") + 1).cast("double") /
            (col("__tot") + buckets).cast("double")).as(nameAs))
    // full outer: a bucket can be present on one side only; its smoothed
    // mass on the absent side is 1/(total+B), which needs that side's
    // total — carried as 1-row broadcasts below
    val ratio = dist(targetFeats, "__p")
      .join(dist(feats, "__q"), Seq("bucket"), "full_outer")
    val tT = targetFeats.agg(sum(col("n")).as("__tt"))
    val tQ = feats.agg(sum(col("n")).as("__tq"))
    val logRatio = ratio
      .crossJoin(broadcast(tT)).crossJoin(broadcast(tQ))
      .select(col("bucket"),
        (log(coalesce(col("__p"),
            lit(1.0) / (col("__tt") + buckets).cast("double"))) -
          log(coalesce(col("__q"),
            lit(1.0) / (col("__tq") + buckets).cast("double"))))
          .as("__lr"))
    feats.join(broadcast(logRatio), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("n").cast("double") * col("__lr")).as("dsir_weight"))
  }

  /** Corpus data card — the per-group census a dataset datasheet is
    * built from: document count, token/char totals, min/max document
    * length, and the exact distinct-content count (its complement
    * against n_docs is the exact-duplicate rate). All-integer columns
    * (averages are the caller's ratio — repo convention keeps the gate
    * engine-exact).
    *
    * Plan: ONE aggregation over the group key. `countDistinct` over the
    * content digest is the costly arm (a shuffle-expand per distinct);
    * at 100 TB swap `exact = false` for approx_count_distinct and the
    * card costs the same as any rollup. Everything else is map-side
    * partial aggregation.
    */
  def dataCard(df: DataFrame, textCol: String, groupCols: Seq[String],
               exact: Boolean = true): DataFrame = {
    require(groupCols.nonEmpty, "dataCard needs at least one group column")
    val t = col(textCol)
    val nTok = size(tokens(t)).cast("long")
    val base = df.select(groupCols.map(col)
      :+ nTok.as("__ntok")
      :+ length(t).cast("long").as("__nchr")
      :+ sha2(t, 256).as("__dg"): _*)
    val distinctAgg =
      if (exact) countDistinct(col("__dg")).as("n_distinct")
      else approx_count_distinct(col("__dg")).as("n_distinct")
    base.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        sum(col("__nchr")).as("n_chars"),
        min(col("__ntok")).as("min_tokens"),
        max(col("__ntok")).as("max_tokens"),
        distinctAgg)
  }

  /** Weights of the linear quality classifier in [[qualityScore]] —
    * integer weights over integer per-mille features, so the score and
    * the keep/drop decision are engine-exact (the fasttext-style quality
    * classifier of the GPT-3/LLaMA pipelines reduced to a fixed linear
    * model; swap the defaults for trained weights without touching the
    * plan). Defaults favor prose: stopword density up, digit/punct
    * walls down, longer tokens mildly up.
    */
  final case class QualityWeights(bias: Long = 0L, wStop: Long = 4L,
                                  wPunct: Long = -2L, wDigit: Long = -3L,
                                  wTokLen: Long = 1L)

  /** Per-document linear quality score over integer per-mille features:
    *
    *   stop_milli   = 1000·stopword_hits div n_tokens
    *   punct_milli  = 1000·punct_chars  div n_chars
    *   digit_milli  = 1000·digit_chars  div n_chars
    *   toklen_milli = 1000·token_chars  div n_tokens
    *   score        = bias + Σ wᵢ·featureᵢ
    *
    * All-integer math (div = truncating division on non-negative
    * operands, where trunc and floor agree) keeps every value exactly
    * reproducible in any engine — a float sigmoid would rank identically
    * anyway, so the monotone integer form loses nothing. Zero-token /
    * zero-char documents are dropped (their ratio features are
    * undefined; a curation pass drops them regardless). Pure scan-side
    * expressions: zero shuffle at any scale.
    */
  def qualityScore(df: DataFrame, textCol: String, idCol: String,
                   w: QualityWeights = QualityWeights()): DataFrame =
    qualityMetrics(df, textCol, idCol)
      .where(col("n_tokens") > 0 && col("n_chars") > 0)
      .select(col(idCol), col("n_tokens"),
        expr("1000 * stopword_hits div n_tokens").as("stop_milli"),
        expr("1000 * punct_chars div n_chars").as("punct_milli"),
        expr("1000 * digit_chars div n_chars").as("digit_milli"),
        expr("1000 * token_chars div n_tokens").as("toklen_milli"))
      .withColumn("score",
        lit(w.bias) + lit(w.wStop) * col("stop_milli")
          + lit(w.wPunct) * col("punct_milli")
          + lit(w.wDigit) * col("digit_milli")
          + lit(w.wTokLen) * col("toklen_milli"))

  /** Integer parameters of the Gopher document-quality rules (Rae et
    * al. 2021, Appendix A1.1) — the subset meaningful for
    * whitespace-tokenized text with no line structure. Percentages are
    * integers so every rule is an integer cross-multiplication
    * (`100·n_alpha >= pct·n_tokens`), never a float ratio: the flags
    * are bit-identical in any engine.
    */
  final case class GopherRules(minWords: Long = 50L, maxWords: Long = 100000L,
                               minMeanLen: Long = 3L, maxMeanLen: Long = 10L,
                               minAlphaPct: Long = 80L, maxSymbolPct: Long = 10L,
                               minStopHits: Long = 2L, maxTopTokenPct: Long = 20L)

  /** Count of the most frequent token — per-doc mode, computed scan-side.
    * O(distinct·n) per document (doc-bounded); the token array binds
    * once via the single-element-array trick so `split` runs once.
    */
  private def topTokenCount(textColName: String): Column = expr(
    s"element_at(transform(array(filter(split(trim($textColName), '\\\\s+'), t -> t != '')), " +
      "ts -> coalesce(array_max(transform(array_distinct(ts), " +
      "t -> size(filter(ts, x -> x = t)))), 0)), 1)").cast("long")

  // '#' occurrences plus non-overlapping '...' runs — Gopher's "symbol"
  // census. Plain (non-regex) replace in both engines.
  private def symbolCount(textColName: String): Column =
    (expr(s"length($textColName) - length(replace($textColName, '#', ''))") +
      expr(s"(length($textColName) - length(replace($textColName, '...', ''))) div 3")
      ).cast("long")

  /** Per-document Gopher rule flags: the per-rule pass/fail census plus
    * the conjunction, as 0/1 longs next to the integer evidence counts
    * (n_tokens, token_chars, n_alpha_tokens, n_symbols, stop_hits,
    * top_token_n). Keeping each rule's verdict — not just the final
    * keep — is what makes the filter tunable: a data card can report
    * which rule kills which slice of the corpus before anyone commits
    * to the cut. All-integer output, oracle-exact; pure scan-side
    * expressions, zero shuffle at any scale.
    *
    * Rules (defaults from the paper): word count in [50, 100000]; mean
    * word length in [3, 10]; >= 80% of words contain an alphabetic
    * character; symbol-to-word ratio ('#' / '...') <= 10%; >= 2
    * stopword hits; most frequent token <= 20% of tokens. Zero-token
    * documents fail the word-count rule, so `keep = 0` without special
    * casing.
    */
  def gopherFlags(df: DataFrame, textCol: String, idCol: String,
                  rules: GopherRules = GopherRules()): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val stop = typedLit(DefaultStopwords)
    def flag(c: Column): Column = c.cast("long")
    val out = df.select(
      col(idCol),
      size(toks).cast("long").as("n_tokens"),
      aggregate(toks, lit(0L), (acc, x) => acc + length(x).cast("long"))
        .as("token_chars"),
      size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("long")
        .as("n_alpha_tokens"),
      symbolCount(textCol).as("n_symbols"),
      size(filter(toks, x => array_contains(stop, lower(x)))).cast("long")
        .as("stop_hits"),
      topTokenCount(textCol).as("top_token_n"))
    out.select(col(idCol), col("n_tokens"), col("token_chars"),
        col("n_alpha_tokens"), col("n_symbols"), col("stop_hits"),
        col("top_token_n"),
        flag(col("n_tokens") >= rules.minWords &&
          col("n_tokens") <= rules.maxWords).as("flag_words"),
        flag(col("token_chars") >= lit(rules.minMeanLen) * col("n_tokens") &&
          col("token_chars") <= lit(rules.maxMeanLen) * col("n_tokens"))
          .as("flag_mean_len"),
        flag(lit(100L) * col("n_alpha_tokens") >=
          lit(rules.minAlphaPct) * col("n_tokens")).as("flag_alpha"),
        flag(lit(100L) * col("n_symbols") <=
          lit(rules.maxSymbolPct) * col("n_tokens")).as("flag_symbol"),
        flag(col("stop_hits") >= rules.minStopHits).as("flag_stop"),
        flag(lit(100L) * col("top_token_n") <=
          lit(rules.maxTopTokenPct) * col("n_tokens")).as("flag_top_token"))
      .withColumn("keep",
        (col("flag_words") * col("flag_mean_len") * col("flag_alpha")
          * col("flag_symbol") * col("flag_stop") * col("flag_top_token")))
  }

  /** Keep the rows passing every [[gopherFlags]] rule, preserving the
    * input schema exactly. The flags are recomputed as scan-side
    * expressions on the same frame (no self-join, no shuffle) — the
    * filter costs one codegen'd projection.
    */
  def gopherFilter(df: DataFrame, textCol: String,
                   rules: GopherRules = GopherRules()): DataFrame = {
    val toks = tokens(col(textCol))
    val stop = typedLit(DefaultStopwords)
    val nTokens = size(toks).cast("long")
    val tokenChars = aggregate(toks, lit(0L), (acc, x) => acc + length(x).cast("long"))
    val nAlpha = size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("long")
    val stopHits = size(filter(toks, x => array_contains(stop, lower(x)))).cast("long")
    df.where(
      nTokens >= rules.minWords && nTokens <= rules.maxWords &&
        tokenChars >= lit(rules.minMeanLen) * nTokens &&
        tokenChars <= lit(rules.maxMeanLen) * nTokens &&
        lit(100L) * nAlpha >= lit(rules.minAlphaPct) * nTokens &&
        lit(100L) * symbolCount(textCol) <= lit(rules.maxSymbolPct) * nTokens &&
        stopHits >= rules.minStopHits &&
        lit(100L) * topTokenCount(textCol) <=
          lit(rules.maxTopTokenPct) * nTokens)
  }

  /** Integer parameters of the Gopher REPETITION rules (Rae et al.
    * 2021, Appendix A1.1) — ceilings on the fraction of token
    * characters attributable to repeated token n-grams, the
    * within-document twin of the corpus-wide [[Dedup.dupGramProfile]].
    * `topGramMaxPct` bounds the characters claimed by the single most
    * frequent n-gram (paper: n = 2..4); `dupGramMaxPct` bounds the
    * characters of tokens covered by ANY n-gram occurring at least
    * twice in the document (paper: n = 5..10). Percentages are
    * integers so every rule is an integer cross-multiplication over
    * exact character counts — bit-identical in any engine.
    */
  final case class RepetitionRules(
      topGramMaxPct: Seq[(Int, Long)] = Seq(2 -> 20L, 3 -> 18L, 4 -> 16L),
      dupGramMaxPct: Seq[(Int, Long)] =
        Seq(5 -> 15L, 6 -> 14L, 7 -> 13L, 8 -> 12L, 9 -> 11L, 10 -> 10L)) {
    require((topGramMaxPct ++ dupGramMaxPct).forall { case (n, p) =>
      n >= 2 && p >= 0L }, "gram widths must be >= 2 and pcts >= 0")
  }

  /** Bind the token array (`ts`) and its n-gram list (`gs`) once each
    * via the single-element-array trick, then evaluate `body` over
    * them. Documents shorter than `n` tokens see an empty `gs`.
    */
  private def overGrams(textColName: String, n: Int, body: String): Column = {
    val toks = s"filter(split(trim($textColName), '\\\\s+'), t -> t != '')"
    val grams = s"case when size(ts) >= $n then " +
      s"transform(sequence(0, size(ts) - $n), " +
      s"i -> concat_ws(' ', slice(ts, i + 1, $n))) else array() end"
    expr(s"element_at(transform(array($toks), ts -> " +
      s"element_at(transform(array($grams), gs -> $body), 1)), 1)").cast("long")
  }

  /** Token characters claimed by the most frequent n-gram: its count
    * times its token chars (`length(gram) − (n−1)` separators), 0 when
    * no n-gram repeats. Count ties resolve to the LARGEST character
    * coverage — deterministic without a gram-order tie-break, and the
    * conservative choice for a ceiling rule. O(distinct²) per doc.
    */
  private def topGramChars(textColName: String, n: Int): Column =
    overGrams(textColName, n,
      "coalesce(element_at(transform(array(" +
        "array_max(transform(array_distinct(gs), " +
        "g -> size(filter(gs, x -> x = g))))), " +
        "mc -> case when mc >= 2 then cast(mc as bigint) * " +
        "array_max(transform(filter(array_distinct(gs), " +
        "g -> size(filter(gs, x -> x = g)) = mc), " +
        s"g -> cast(length(g) - ${n - 1} as bigint))) " +
        "else 0L end), 1), 0L)")

  /** Token characters covered by ANY occurrence of any n-gram that
    * appears at least twice in the document: token j is covered when
    * some duplicated gram's window [i, i+n) contains j; each covered
    * token's chars count once. The per-gram duplicate flags (`db`)
    * bind once, so the scan is O(grams²) for the flags plus O(n) per
    * token for coverage — all doc-bounded, zero shuffle.
    */
  private def dupGramChars(textColName: String, n: Int): Column =
    overGrams(textColName, n,
      "case when size(gs) = 0 then 0L else " +
        "element_at(transform(array(transform(gs, " +
        "g -> size(filter(gs, x -> x = g)) >= 2)), db -> " +
        "aggregate(sequence(1, size(ts)), 0L, (acc, j) -> acc + " +
        s"(case when exists(sequence(greatest(1, j - ${n - 1}), " +
        "least(j, size(gs))), i -> element_at(db, i)) " +
        "then cast(length(element_at(ts, j)) as bigint) " +
        "else 0L end))), 1) end")

  /** Per-document Gopher repetition census: for each configured n, the
    * exact token characters claimed by the top n-gram
    * (`top{n}_chars`) and covered by duplicated n-grams
    * (`dup{n}_chars`), each with its 0/1 ceiling flag, plus the
    * conjunction `keep`. Fractions stay as (covered, token_chars)
    * integer pairs — the flags compare via cross-multiplication, never
    * a float. Pure scan-side expressions: zero shuffle at any scale,
    * and per-doc cost is bounded by the document's own length.
    * Zero-token and shorter-than-n documents have zero covered chars,
    * so they pass every repetition rule (the length rules in
    * [[gopherFlags]] own that verdict).
    */
  def repetitionFlags(df: DataFrame, textCol: String, idCol: String,
                      rules: RepetitionRules = RepetitionRules()): DataFrame = {
    val toks = tokens(col(textCol))
    val covered =
      rules.topGramMaxPct.map { case (n, _) =>
        topGramChars(textCol, n).as(s"top${n}_chars") } ++
      rules.dupGramMaxPct.map { case (n, _) =>
        dupGramChars(textCol, n).as(s"dup${n}_chars") }
    val base = df.select(col(idCol) +:
      aggregate(toks, lit(0L), (acc, x) => acc + length(x).cast("long"))
        .as("token_chars") +: covered: _*)
    val flags =
      rules.topGramMaxPct.map { case (n, p) =>
        (lit(100L) * col(s"top${n}_chars") <= lit(p) * col("token_chars"))
          .cast("long").as(s"flag_top$n") } ++
      rules.dupGramMaxPct.map { case (n, p) =>
        (lit(100L) * col(s"dup${n}_chars") <= lit(p) * col("token_chars"))
          .cast("long").as(s"flag_dup$n") }
    val flagNames = rules.topGramMaxPct.map { case (n, _) => s"flag_top$n" } ++
      rules.dupGramMaxPct.map { case (n, _) => s"flag_dup$n" }
    base.select(col("*") +: flags: _*)
      .withColumn("keep", flagNames.map(col).reduce(_ * _))
  }

  /** Keep the rows passing every [[repetitionFlags]] ceiling,
    * preserving the input schema exactly. Recomputed scan-side on the
    * same frame — no self-join, no shuffle.
    */
  def repetitionFilter(df: DataFrame, textCol: String,
                       rules: RepetitionRules = RepetitionRules()): DataFrame = {
    val tokChars = aggregate(tokens(col(textCol)), lit(0L),
      (acc, x) => acc + length(x).cast("long"))
    val conds =
      rules.topGramMaxPct.map { case (n, p) =>
        lit(100L) * topGramChars(textCol, n) <= lit(p) * tokChars } ++
      rules.dupGramMaxPct.map { case (n, p) =>
        lit(100L) * dupGramChars(textCol, n) <= lit(p) * tokChars }
    df.where(conds.reduce(_ && _))
  }

  /** Keep the rows whose quality score clears `minScore`, preserving
    * the input schema exactly. The score is recomputed as scan-side
    * expressions on the same frame (no self-join, no shuffle): the
    * filter costs one codegen'd projection. Zero-token/zero-char rows
    * are dropped, matching [[qualityScore]]'s domain.
    */
  def qualityFilter(df: DataFrame, textCol: String, minScore: Long,
                    w: QualityWeights = QualityWeights()): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val stop = typedLit(DefaultStopwords)
    val nChars = length(t).cast("long")
    val nTokens = size(toks).cast("long")
    val tokenChars = aggregate(toks, lit(0L), (acc, x) => acc + length(x).cast("long"))
    val punctChars = length(regexp_replace(t, "[^.!?,;:]", "")).cast("long")
    val digitChars = length(regexp_replace(t, "[^0-9]", "")).cast("long")
    val stopHits = size(filter(toks, x => array_contains(stop, x))).cast("long")
    // floor over an exact double is trunc div here: operands are
    // non-negative and bounded by 1000·n_chars < 2^53
    def milli(num: Column, denom: Column): Column =
      floor(lit(1000L) * num / denom).cast("long")
    val score = lit(w.bias) +
      lit(w.wStop) * milli(stopHits, nTokens) +
      lit(w.wPunct) * milli(punctChars, nChars) +
      lit(w.wDigit) * milli(digitChars, nChars) +
      lit(w.wTokLen) * milli(tokenChars, nTokens)
    df.where(nTokens > 0 && nChars > 0 && score >= lit(minScore))
  }

  /** Padded, case-folded, single-spaced token stream `' tok1 tok2 '` —
    * the string on which token-boundary phrase containment reduces to a
    * plain substring test (every term occurrence is space-delimited on
    * both sides, including at the document edges).
    */
  private def paddedTokenStream(text: Column): Column =
    concat(lit(" "), array_join(tokens(lower(text)), " "), lit(" "))

  /** Number of DISTINCT blocklist terms present in `text` — the
    * C4-style wordlist census (Raffel et al. 2020 filtered on the
    * public "bad words" list). Token-boundary aware ("class" never
    * matches inside "classic"), case-folded, multi-word phrases
    * supported (matched on the single-spaced token stream, so any
    * whitespace between the phrase's words matches).
    *
    * Scale shape: a literal expression fold — |terms| substring tests
    * per row, scan-side, zero shuffle. Right for curated lists (10²-10³
    * terms); for very large single-token lists use
    * [[blocklistFilterJoin]], which shuffles tokens instead of
    * multiplying per-row work.
    */
  def blockedTermCount(text: Column, terms: Seq[String]): Column = {
    val canon = terms.map(_.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" "))
      .filter(_.nonEmpty).distinct
    require(canon.nonEmpty, "blocklist needs at least one non-empty term")
    val padded = paddedTokenStream(text)
    canon.map(t => when(padded.contains(s" $t "), 1L).otherwise(0L)).reduce(_ + _)
  }

  /** Keep rows whose blocked-term count stays at or under `maxTerms`
    * (0 = any blocked term drops the row). Schema-preserving,
    * scan-side; stateless, so it curates a stream unchanged.
    */
  def blocklistFilter(df: DataFrame, textCol: String, terms: Seq[String],
                      maxTerms: Long = 0L): DataFrame =
    df.where(blockedTermCount(col(textCol), terms) <= lit(maxTerms))

  /** Scalable single-TOKEN blocklist arm: explode tokens, broadcast-
    * semi-join the blocked set, anti-join the hit ids away. The shuffle
    * carries (id, token) pairs and the blocked side is a DataFrame (any
    * size — Catalyst broadcasts it while it fits, hash-joins beyond);
    * per-row cost is independent of |terms|, unlike the expression arm.
    * Case-folded and token-boundary exact like [[blockedTermCount]];
    * phrases need the expression arm.
    */
  def blocklistFilterJoin(df: DataFrame, idCol: String, textCol: String,
                          blocked: DataFrame, termCol: String): DataFrame = {
    require(!df.columns.contains("__graft_tok"), "__graft_tok is reserved")
    val tok = df.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("__graft_tok"))
    val hit = tok.join(
        blocked.select(lower(trim(col(termCol))).as("__graft_tok")),
        Seq("__graft_tok"), "left_semi")
      .select(col(idCol)).distinct()
    df.join(hit, Seq(idCol), "left_anti")
  }
}
