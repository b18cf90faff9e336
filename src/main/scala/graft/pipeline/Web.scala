package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-corpus curation: markup extraction, URL canonicalization, and
  * line-level dedup/filtering — the CommonCrawl-shaped stages (C4,
  * RefinedWeb, Gopher pipelines) that sit UPSTREAM of the document-level
  * operators in [[Text]] and [[Dedup]].
  *
  * Every transform here is a pure, deterministic column pipeline built
  * from `regexp_replace`/`regexp_extract`/array functions — scan-side
  * whole-stage codegen, zero UDFs, zero shuffles for the per-row tiers
  * (markup, URLs). The regex contract is deliberately restricted to the
  * intersection of Java regex and RE2 semantics (no lookaround, no
  * backreferences, explicit character classes instead of `\s` whose
  * definition differs between the engines), so an external engine —
  * the DuckDB oracle, or any RE2-based system — can replay the exact
  * same pipeline and get byte-identical output. That portability is the
  * same discipline as [[Dedup.simHashPortableExpr]] / md5 sampling.
  *
  * Line-level dedup ([[lineDedup]]) is the RefinedWeb/C4 recipe:
  * corpus-wide exact dedup of LINES (keep the first occurrence,
  * document order), which kills boilerplate (nav bars, cookie banners,
  * license footers) that document-level near-dup never sees because the
  * surrounding page differs. Scale shape at 100 TB: one map-side
  * combinable aggregate on the line hash (count + first locator — no
  * window over hash partitions, so a billion-fold duplicated banner
  * line costs a partial aggregate, not a single-reducer sort), one
  * equi-join of the exploded lines against ONLY the duplicated hashes
  * (count >= minDupCount — a tiny fraction of distinct lines; AQE
  * broadcasts it when it fits), and one regroup by document to
  * reassemble. Nothing is ever all-pairs and nothing collects.
  */
object Web {

  // ------------------------------------------------------------------
  // markup extraction
  // ------------------------------------------------------------------

  /** Whitespace class shared with the oracle: Java's `\s` includes
    * \x0B (vertical tab), RE2's does not — spell it out.
    */
  private val WS = "[ \\t\\r\\n\\f]"

  /** Plain text from an HTML/XML-ish document, as a deterministic
    * regex pipeline (each step is part of the public contract):
    *
    *  1. drop `<!-- … -->` comments, `<script>…</script>` and
    *     `<style>…</style>` blocks (non-greedy, case-insensitive,
    *     dot-matches-newline)
    *  2. closing block-level tags (`</p>`, `</div>`, `</li>`,
    *     `</h1..6>`, `</tr>`, `</ul>`, `</ol>`, `</blockquote>`,
    *     `</table>`) and `<br>`/`<hr>` become a newline
    *  3. every remaining tag becomes a single space
    *  4. the five ubiquitous entities decode: `&nbsp;`→space,
    *     `&lt;`/`&gt;`/`&quot;`/`&#39;`, and `&amp;`→`&` LAST (so
    *     `&amp;lt;` decodes to the literal text `&lt;`, per the
    *     single-pass convention)
    *  5. whitespace canonicalization: runs of space/tab/CR/FF collapse
    *     to one space, spaces hugging a newline are absorbed into it,
    *     newline runs collapse to one, and the ends are trimmed
    *
    * This is boilerplate-preserving extraction (menus and footers stay
    * — [[lineDedup]] is the stage that removes them); it is NOT an
    * HTML5 parser, and malformed markup degrades deterministically
    * (an unclosed `<` survives as text — same both engines).
    */
  def stripMarkup(html: Column): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", "")
    val noScript = regexp_replace(noComment, "(?is)<script\\b[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", "")
    val blocks = regexp_replace(noStyle,
      "(?is)</(?:p|div|li|h[1-6]|tr|ul|ol|blockquote|table)>|<(?:br|hr)\\b[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "(?s)<[^>]*>", " ")
    val ent = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(noTags, "&nbsp;", " "),
            "&lt;", "<"),
          "&gt;", ">"),
        "&quot;", "\""),
      "&#39;", "'")
    val decoded = regexp_replace(ent, "&amp;", "&")
    val oneSpace = regexp_replace(decoded, "[ \\t\\r\\f]+", " ")
    val tightNl = regexp_replace(oneSpace, " *\\n *", "\n")
    val oneNl = regexp_replace(tightNl, "\\n+", "\n")
    regexp_replace(oneNl, "^" + WS + "+|" + WS + "+$", "")
  }

  /** Characters the extraction removed — `length(html) - length(text)`
    * as an exact BIGINT (the markup-density quality signal, without a
    * float ratio that two engines would round differently).
    */
  def markupChars(html: Column): Column =
    (length(html) - length(stripMarkup(html))).cast("long")

  /** All double-quoted `href` targets of `<a>` tags, in document
    * order — the link-graph extraction that feeds [[urlHost]] /
    * [[registeredDomain]] edges (and from there the graph tier:
    * components, PageRank). Same Java∩RE2 contract as [[stripMarkup]];
    * a malformed tag carrying two hrefs resolves to the LAST one
    * (greedy `[^>]*` — both engines agree), unquoted hrefs are
    * ignored. Scan-side, zero shuffles.
    */
  def extractLinks(html: Column): Column =
    regexp_extract_all(html,
      lit("(?is)<a\\b[^>]*href[ \\t\\r\\n]*=[ \\t\\r\\n]*\"([^\"]*)\""), lit(1))

  /** `(href, anchor)` pairs of complete `<a href="…">…</a>` elements:
    * the anchor is the element's inner text with nested tags dropped
    * and whitespace canonicalized — the classic retrieval/quality
    * signal (what the WEB calls the target) that [[extractLinks]]'s
    * bare hrefs can't give. Elements without a closing tag or a quoted
    * href are skipped (deterministically, both engines). Scan-side:
    * one `regexp_extract_all` + a `transform` over the matches.
    */
  def extractAnchors(html: Column): Column = {
    val ws = "[ \\t\\r\\n]"
    val element = "(?is)<a\\b[^>]*href" + ws + "*=" + ws + "*\"[^\"]*\"[^>]*>.*?</a>"
    transform(
      regexp_extract_all(html, lit(element), lit(0)),
      el => struct(
        regexp_extract(el, "(?is)href" + ws + "*=" + ws + "*\"([^\"]*)\"", 1)
          .as("href"),
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(el, "(?is)^<a[^>]*>|</a>$", ""),
              "(?s)<[^>]*>", " "),
            "[ \\t\\r\\n\\f]+", " "),
          "^ +| +$", "")
          .as("anchor")))
  }

  // ------------------------------------------------------------------
  // URL canonicalization
  // ------------------------------------------------------------------

  /** Default tracking-parameter set as regex fragments. `ref` is
    * deliberately NOT here: it is a common legitimate content
    * parameter (`?ref=branch` on code hosts) and stripping it would
    * merge genuinely different resources — callers curating corpora
    * where `ref` is known to be tracking pass it explicitly.
    */
  val DefaultTrackedParams: Seq[String] =
    Seq("utm_[a-zA-Z0-9_]*", "fbclid", "gclid", "msclkid")

  /** Canonical form of an absolute http(s) URL, as a deterministic
    * pipeline (fragment → tracking params → case → default port →
    * root-path slash). Path and non-tracking query params keep their
    * case and order — canonicalization must never merge two genuinely
    * different resources, only spellings of the same one.
    *
    *  1. drop the `#fragment`
    *  2. drop tracking params (`trackedParams`, regex fragments;
    *     default [[DefaultTrackedParams]]): first every
    *     `&tracked=…`, then a leading `?tracked=…&` promotes the next
    *     param, then a sole `?tracked=…` drops the query entirely
    *  3. lowercase the scheme and the host:port — NOT the userinfo,
    *     which is case-sensitive per RFC 3986 §6.2.2.1 (only scheme
    *     and host case-normalize); the path is not touched either
    *  4. drop the default port (`:80` for http, `:443` for https)
    *  5. `http://host/` → `http://host` (root path only; deeper
    *     trailing slashes are preserved — they can be distinct
    *     resources)
    */
  def canonicalizeUrl(url: Column): Column =
    canonicalizeUrl(url, DefaultTrackedParams)

  def canonicalizeUrl(url: Column, trackedParams: Seq[String]): Column = {
    require(trackedParams.nonEmpty, "trackedParams must be non-empty")
    val tracked = trackedParams.mkString("(?:", "|", ")")
    val noFrag = regexp_replace(url, "(?s)#.*$", "")
    val noAmpTracked = regexp_replace(noFrag, "&" + tracked + "=[^&#]*", "")
    val noLeadTracked = regexp_replace(noAmpTracked, "\\?" + tracked + "=[^&#]*&", "?")
    val noTracked = regexp_replace(noLeadTracked, "\\?" + tracked + "=[^&#]*$", "")
    val schemeSlashes = "^[A-Za-z][A-Za-z0-9+.-]*://"
    val authPat = schemeSlashes + "[^/?#]*"
    val scheme = regexp_extract(noTracked, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    val userinfo = regexp_extract(noTracked, schemeSlashes + "([^/?#]*@)", 1)
    val hostPort = regexp_extract(noTracked, schemeSlashes + "(?:[^/?#]*@)?([^/?#]*)", 1)
    val lowered = when(scheme === "", noTracked)
      .otherwise(concat(lower(scheme), lit("://"), userinfo,
        lower(hostPort), regexp_replace(noTracked, authPat, "")))
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(http://[^/:?#]+):80([/?]|$)", "$1$2"),
      "^(https://[^/:?#]+):443([/?]|$)", "$1$2")
    regexp_replace(noPort, "^(https?://[^/?#]+)/(\\?|$)", "$1$2")
  }

  /** Lowercased host of an absolute URL, leading `www.` labels (all of
    * them — `www.www.example.com` → `example.com`) dropped and any
    * userinfo/port stripped; empty string when no `scheme://` is
    * present (a parse failure must stay distinguishable from a real
    * host, and NULL would poison downstream group keys).
    */
  def urlHost(url: Column): Column = {
    val host = lower(regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1))
    regexp_replace(host, "^(www\\.)+", "")
  }

  /** Second-level domains that act as TLD extensions under a 2-letter
    * ccTLD (`bbc.co.uk` → registered domain `bbc.co.uk`, not `co.uk`).
    * A pragmatic core of the public-suffix list — production crawls
    * should load the full PSL's second-level entries from its data
    * file and pass them to [[registeredDomain(host:org\.apache\.spark\.sql\.Column,ccSecondLevel:Seq[String])*]]
    * (the set rides into the plan as one literal InSet — no algorithm
    * change, no join).
    */
  val CcSecondLevel: Seq[String] = Seq("co", "com", "net", "org", "ac", "gov", "edu")

  /** Registered (pay-level) domain of a host: the last two labels,
    * or the last three when the TLD is a 2-letter country code and the
    * second-level label is a known extension (`co.uk`, `com.au`, …).
    * Hosts with fewer labels pass through unchanged.
    */
  def registeredDomain(host: Column): Column =
    registeredDomain(host, CcSecondLevel)

  /** [[registeredDomain]] with a caller-supplied extension set — feed
    * the real public-suffix list here (its ~9k second-level entries
    * fit a broadcast-literal InSet comfortably) when label heuristics
    * must hold on live crawl hosts (`com.br`, `co.jp`, …).
    */
  def registeredDomain(host: Column, ccSecondLevel: Seq[String]): Column = {
    require(ccSecondLevel.nonEmpty, "ccSecondLevel must be non-empty")
    val labels = split(host, "\\.")
    val n = size(labels)
    val tld = element_at(labels, -1)
    val sld = element_at(labels, -2)
    val ccExtension = tld.rlike("^[a-z][a-z]$") &&
      sld.isInCollection(ccSecondLevel)
    when(n <= lit(2), host)
      .when(ccExtension,
        concat_ws(".", element_at(labels, -3), sld, tld))
      .otherwise(concat_ws(".", sld, tld))
  }

  // ------------------------------------------------------------------
  // line-level operators
  // ------------------------------------------------------------------

  /** Break a single-line word stream into `wordsPerLine`-word lines —
    * a deterministic segmentation (replace every `wordsPerLine`-th
    * inter-word space with a newline, leftmost-first) for corpora that
    * arrive without line structure. Not needed for real crawl text,
    * which has its own newlines; [[lineDedup]]/[[lineQualityFilter]]
    * consume either.
    */
  def segmentLines(text: Column, wordsPerLine: Int): Column = {
    require(wordsPerLine > 0, "wordsPerLine must be positive")
    regexp_replace(text,
      "((?:[^ ]+ ){" + (wordsPerLine - 1) + "}[^ ]+) ", "$1\n")
  }

  /** Corpus-wide exact line dedup (RefinedWeb recipe): a line whose
    * exact text occurs in `minDupCount`-or-more positions corpus-wide
    * is kept ONLY at its first occurrence (document order: smallest
    * `idCol`, then smallest line number) and removed everywhere else.
    * Returns one row per input document: `idCol`, `text` (surviving
    * lines re-joined with `\n`; empty string when none survive),
    * `lines_kept`, `lines_dropped`.
    *
    * Lines shorter than `minLineChars` are exempt (kept, not counted):
    * blank lines and one-word stubs duplicate by accident, not by
    * boilerplate, and dropping all-but-one empty line across a corpus
    * would stitch unrelated paragraphs together.
    *
    * Scale: the occurrence table is `posexplode` (no shuffle); dup
    * stats are ONE `groupBy(line_hash)` with map-side combine (count +
    * `min(struct(id, line_no))` both partially aggregate, so a
    * pathologically hot line — the empty-ish banner duplicated a
    * billion times — costs combiners, not a single-reducer sort, which
    * is why this is an aggregate+join and NOT a `row_number() over
    * (partition by hash)`); the join back touches only hashes that are
    * actually duplicated (`count >= minDupCount` — tiny vs distinct
    * lines; AQE broadcasts when it fits); reassembly is one
    * `groupBy(id)`. Two shuffles total, both on natural keys.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDupCount: Int = 2, minLineChars: Int = 2): DataFrame = {
    require(minDupCount >= 2, "minDupCount must be >= 2")
    // null-id documents are ignored (no output row): a null id cannot
    // anchor the first-occurrence rule (null sorts below every real id
    // in min(struct(...))) and cannot be re-attached by the config
    // stage's join — the stage passes such rows through untouched.
    // Ids are expected unique; duplicate ids merge deterministically
    // (their lines count and reassemble as one document).
    val lines = df.filter(col(idCol).isNotNull).select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .withColumn("eligible", length(col("line")) >= minLineChars)
      .withColumn("line_hash", md5(col("line")))
    val dups = lines.filter(col("eligible"))
      .groupBy(col("line_hash"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col(idCol).as("first_id"), col("line_no").as("first_no")))
          .as("first_at"))
      .filter(col("occ") >= minDupCount)
      .select(col("line_hash"), col("first_at.first_id").as("first_id"),
        col("first_at.first_no").as("first_no"))
    val kept = lines.join(dups, Seq("line_hash"), "left")
      .withColumn("keep", !col("eligible") || col("first_id").isNull ||
        (col("first_id") === col(idCol) && col("first_no") === col("line_no")))
    kept.groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("keep"), struct(col("line_no"), col("line"))))),
          s => s("line")), "\n").as(textCol),
        sum(when(col("keep"), 1L).otherwise(0L)).as("lines_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("lines_dropped"))
  }

  // ------------------------------------------------------------------
  // incremental line census (cross-snapshot line dedup)
  // ------------------------------------------------------------------

  /** Per-hash stats of a frame's ELIGIBLE lines: `(line_hash, occ,
    * first_id, first_no)` — the unit the census stores and the probe
    * combines. Map-side combinable (count + min(struct)), same as the
    * in-corpus path.
    */
  private def lineStats(df: DataFrame, idCol: String, textCol: String,
                        minLineChars: Int): DataFrame =
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .filter(length(col("line")) >= minLineChars)
      .withColumn("line_hash", md5(col("line")))
      .groupBy(col("line_hash"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("__id").as("first_id"), col("line_no").as("first_no")))
          .as("first_at"))
      .select(col("line_hash"), col("occ"),
        col("first_at.first_id").as("first_id"),
        col("first_at.first_no").as("first_no"))

  private def censusRows(dir: String) = dir + "/rows"
  private def censusMeta(dir: String) = dir + "/_census.json"

  private def writeCensusMeta(spark: org.apache.spark.sql.SparkSession,
                              dir: String, minLineChars: Int): Unit =
    graft.sources.StoreTables.writeSmall(spark, censusMeta(dir),
      s"""{"minLineChars":$minLineChars}""")

  /** The census's pinned eligibility parameter. The probe/advance MUST
    * run under the SAME `minLineChars` the census was built with (a
    * looser probe would count lines the census never saw and silently
    * break the ≡-whole-corpus contract), so the library checks the
    * sidecar itself instead of trusting the caller.
    */
  private def readCensusMinChars(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): Int = {
    val v = graft.sources.StoreTables.metaField(spark, censusMeta(dir), "minLineChars")
    require(v.isDefined, s"no line census at $dir (missing ${censusMeta(dir)})")
    v.get.toInt
  }

  /** Build a persisted line census at `dir` from a corpus snapshot:
    * the durable half of incremental cross-snapshot line dedup. Rows
    * are range-clustered by `line_hash` so parquet row-group min/max
    * stats stay selective for future probes; the census is 3 narrow
    * columns + a 32-hex hash — a small fraction of the corpus text
    * bytes it summarizes.
    */
  def createLineCensus(df: DataFrame, idCol: String, textCol: String,
                       dir: String, minLineChars: Int = 2): Unit = {
    val spark = df.sparkSession
    graft.sources.StoreTables.create(spark, censusTable(dir),
      lineStats(df, idCol, textCol, minLineChars), "errorifexists")
    writeCensusMeta(spark, dir, minLineChars)
  }

  /** Fold a processed batch's line stats into the census (read-merge-
    * swap, crash-safe via [[graft.streaming.SwapStore]]): occ adds,
    * the first locator takes the global min. Call AFTER
    * [[lineDedupAgainst]] has consumed the batch — advance-then-probe
    * would count the batch against itself twice.
    */
  def advanceLineCensus(dir: String, batch: DataFrame, idCol: String,
                        textCol: String): Unit = {
    val spark = batch.sparkSession
    val minChars = readCensusMinChars(spark, dir)
    val cur = graft.streaming.SwapStore.readCurrent(spark, censusRows(dir),
      lineStats(batch, idCol, textCol, minChars).schema)
    val merged = foldCensusRows(
      cur.unionByName(lineStats(batch, idCol, textCol, minChars)))
    graft.streaming.SwapStore.swapWrite(censusTable(dir).clustered(merged),
      censusRows(dir))
  }

  /** Epoch-staged census advance for EXACTLY-ONCE streaming: the
    * batch's line stats land as a DELTA file set under the tag's
    * deterministic names ([[graft.sources.EpochFiles]]) instead of
    * being merged in place — a replayed epoch retires its own files
    * and republishes identically, which the read-merge-swap
    * [[advanceLineCensus]] cannot offer (a replay would re-add the
    * batch's counts). Probes fold deltas at read time; run
    * [[compactLineCensus]] at maintenance rate to keep the file count
    * down.
    */
  def advanceStagedLineCensus(batch: DataFrame, idCol: String,
                              textCol: String, dir: String, tag: String): Unit = {
    val spark = batch.sparkSession
    val minChars = readCensusMinChars(spark, dir)
    val store = lineCensusTables(dir)
    graft.sources.StoreTables.publish(spark, store, store.tables.head,
      lineStats(batch, idCol, textCol, minChars), tag)
    ()
  }

  /** Remove everything a tag's [[advanceStagedLineCensus]] attempt
    * published (and staging leftovers) — the census is back to its
    * pre-epoch content no matter where the attempt died
    * ([[graft.sources.StoreTables.rollback]]).
    */
  def rollbackLineAdvance(spark: org.apache.spark.sql.SparkSession,
                          dir: String, tag: String): Unit =
    graft.sources.StoreTables.rollback(spark, lineCensusTables(dir), tag)

  /** The census as a one-table store ([[graft.sources.StoreTables]]):
    * hash-clustered, no file cap, no stats artifact, minor folds
    * sharded at 2M rows. Unlike the append-only stores the resolve is
    * NOT identity: rows for one `line_hash` may appear in several
    * deltas, and the read-time fold contract (occ sums, first-locator
    * mins — a commutative monoid) makes any subset's aggregate exactly
    * equivalent, so probe results are identical before and after
    * either fold.
    */
  def lineCensusTables(dir: String): graft.sources.StoreTables.Store =
    graft.sources.StoreTables.Store(dir, Seq(censusTable(dir)))

  private def censusTable(dir: String) = graft.sources.StoreTables.Table(
    censusRows(dir), "line_hash", resolve = foldCensusRows,
    shardRows = 2000000L, stats = false)

  private def foldCensusRows(df: DataFrame): DataFrame =
    df.groupBy(col("line_hash"))
      .agg(sum(col("occ")).as("occ"),
        min(struct(col("first_id"), col("first_no"))).as("first_at"))
      .select(col("line_hash"), col("occ"),
        col("first_at.first_id").as("first_id"),
        col("first_at.first_no").as("first_no"))

  /** MINOR fold — the tier the streaming path's auto-compact runs:
    * only the per-tag override deltas ([[advanceStagedLineCensus]]'s
    * published epochs) merge, so fold I/O is ∝ the override bytes. A
    * hash present in base AND overrides keeps two rows until a major
    * [[compactLineCensus]]; probes aggregate at read time regardless.
    */
  def minorCompactLineCensus(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Unit =
    graft.sources.StoreTables.foldOverrides(spark, lineCensusTables(dir))

  /** Fold accumulated epoch deltas into one hash-clustered table
    * (crash-safe swap) — probe results are identical before and after
    * (the probe aggregates at read time); this only buys back file
    * count and clustering. Same caveat as the near-dup store's
    * recluster: the swap renames files, destroying the per-tag names
    * an IN-FLIGHT epoch replay would need to retire — run it between
    * epochs. An absent census is left alone.
    */
  def compactLineCensus(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit =
    graft.sources.StoreTables.recluster(spark, lineCensusTables(dir))

  /** Incremental line dedup of a NEW batch against a persisted census:
    * output over the batch's documents is IDENTICAL to running
    * [[lineDedup]] over (census corpus ∪ batch) and keeping the batch
    * rows — q_incr_linededup pins exactly that equality against the
    * whole-corpus DuckDB oracle. Per occurrence the keep rule combines
    * census and batch stats: total occurrences = census + in-batch,
    * first locator = min(census first, batch first); an occurrence
    * survives iff it is exempt, globally under-duplicated, or IS the
    * global first.
    *
    * I/O shape: batch side is batch-proportional (explode + one
    * aggregate); the census side reads the 3-narrow-column census
    * table — a corpus SUMMARY (hashes + counters, a fraction of the
    * text bytes it replaces), broadcast whole while it fits and a
    * shuffled hash join beyond that, where the hash-range-clustered
    * layout makes Spark's runtime bloom-filter join pruning and
    * IN-list pushdown effective. This is the same
    * summary-per-batch trade the sketch artifacts make, NOT a re-read
    * of the corpus text — but it IS a full census read per batch at
    * broadcast sizes; measured flat-to-falling probe wall under 10×
    * corpus (line_census_probe).
    */
  def lineDedupAgainst(dir: String, batch: DataFrame, idCol: String,
                       textCol: String, minDupCount: Int = 2): DataFrame = {
    require(minDupCount >= 2, "minDupCount must be >= 2")
    val spark = batch.sparkSession
    val minChars = readCensusMinChars(spark, dir)
    val lines = batch.filter(col(idCol).isNotNull).select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .withColumn("eligible", length(col("line")) >= minChars)
      .withColumn("line_hash", md5(col("line")))
    val stats = lineStats(batch, idCol, textCol, minChars)
    val batchStats = stats
      .withColumnRenamed("occ", "occ_b")
      .withColumn("first_b", struct(col("first_id"), col("first_no")))
      .select(col("line_hash"), col("occ_b"), col("first_b"))
    // empty-census fallback schema must match the STORED layout
    // (line_hash, occ, first_id, first_no), not the probe projection.
    // The read-side aggregate makes per-epoch DELTA files (streaming
    // advance appends one per micro-batch) indistinguishable from a
    // compacted census: same hash across files folds to one row, so
    // the probe's left join can never multiply batch occurrences. On a
    // compacted census it is a no-op the partial-aggregate tier eats.
    val census = graft.streaming.SwapStore
      .readCurrent(spark, censusRows(dir), stats.schema)
      .groupBy(col("line_hash"))
      .agg(sum(col("occ")).as("occ_c"),
        min(struct(col("first_id"), col("first_no"))).as("first_c"))
    val touched = batchStats.join(census, Seq("line_hash"), "left")
      .select(col("line_hash"),
        (col("occ_b") + coalesce(col("occ_c"), lit(0L))).as("occ_t"),
        when(col("first_c").isNull || col("first_b") < col("first_c"),
          col("first_b")).otherwise(col("first_c")).as("first_t"))
    val kept = lines.join(touched, Seq("line_hash"), "left")
      .withColumn("keep", !col("eligible") || col("occ_t") < minDupCount ||
        (col("first_t.first_id") === col(idCol) &&
          col("first_t.first_no") === col("line_no")))
    kept.groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("keep"), struct(col("line_no"), col("line"))))),
          s => s("line")), "\n").as(textCol),
        sum(when(col("keep"), 1L).otherwise(0L)).as("lines_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("lines_dropped"))
  }

  /** Token count of one line under the same whitespace-split contract
    * as [[Text.tokens]], minus the empty-string artifacts a split of a
    * blank line produces.
    */
  private def lineTokens(line: Column): Column =
    filter(split(line, " "), t => length(t) > 0)

  /** Line-quality filter (C4-shaped rules, re-targeted at word-stream
    * corpora): a line survives iff it has at least `minTokens` tokens
    * AND contains at least one of `anchorWords` (C4 uses terminal
    * punctuation as the "this is prose" anchor; for punctuation-free
    * corpora the anchor set is the function-word list). Documents
    * keeping fewer than `minKeptLines` lines are dropped entirely.
    * Returns `idCol`, `text` (kept lines re-joined), `lines_kept`,
    * `lines_dropped` — same output contract as [[lineDedup]] so the
    * stages compose. Pure per-document work: explode, per-line
    * predicate, regroup by id — ONE shuffle, no corpus-wide state.
    */
  def lineQualityFilter(df: DataFrame, idCol: String, textCol: String,
                        minTokens: Int, anchorWords: Seq[String],
                        minKeptLines: Int = 1): DataFrame = {
    require(minTokens >= 1, "minTokens must be >= 1")
    require(anchorWords.nonEmpty, "anchorWords must be non-empty")
    require(minKeptLines >= 1, "minKeptLines must be >= 1")
    val anchors = array(anchorWords.map(lit): _*)
    // null-id documents are ignored — same contract as [[lineDedup]]
    val lines = df.filter(col(idCol).isNotNull).select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .withColumn("toks", lineTokens(col("line")))
      .withColumn("keep", size(col("toks")) >= minTokens &&
        arrays_overlap(col("toks"), anchors))
    lines.groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("keep"), struct(col("line_no"), col("line"))))),
          s => s("line")), "\n").as(textCol),
        sum(when(col("keep"), 1L).otherwise(0L)).as("lines_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("lines_dropped"))
      .filter(col("lines_kept") >= minKeptLines)
  }
}
