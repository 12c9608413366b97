package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline: token
  * statistics, quality scoring, n-gram-heuristic language ID, and rolling
  * document fingerprinting. All computations are narrow (per-row) except the
  * fingerprint winnowing window, so they scale linearly with the data: no
  * shuffle at all for tokens/quality/langid, and one partition-local-friendly
  * window keyed by doc for fingerprints.
  *
  * Cross-engine determinism notes (these queries are DuckDB-oracle-checked):
  * only integer arithmetic, exact-string ops and single-double-op ratios are
  * used; md5 is the one hash function because it is bit-identical in every
  * engine.
  */
object TextAnalysis {

  /** Whitespace tokens of `lower(text)`. */
  def tokens(c: Column): Column = split(lower(c), " ")

  /** BPE-ish tokenizer regex: letter runs, digit runs, single punctuation. */
  val BpeIshPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Per-document token statistics (token counting operator). */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"),
      size(array_distinct(tokens(col(textCol)))).cast("long").as("n_unique_tokens"),
      size(regexp_extract_all(lower(col(textCol)), lit(BpeIshPattern), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** English function words used by both the quality score and language ID. */
  val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is")
  val StopwordsDe = Seq("der", "die", "das", "und", "ist", "ein")
  val StopwordsFr = Seq("le", "les", "et", "est", "une", "dans")
  val StopwordsEs = Seq("el", "los", "y", "es", "una", "en")

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  private def hitCount(tokCol: String, words: Seq[String]): Column =
    expr(s"size(filter($tokCol, w -> w IN ${inList(words)}))").cast("long")

  /** Document quality scoring: length, alphabetic/whitespace ratios, stopword
    * density, and a composite score in [0,1]. The formula is expressed with
    * single IEEE-double operations in a fixed order so it reproduces exactly
    * in any engine.
    */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = docs.select(
      col(idCol),
      col(textCol).as("text"),
      tokens(col(textCol)).as("toks"),
      length(col(textCol)).cast("long").as("n_chars"))
    t.select(
        col(idCol),
        col("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        (length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double") /
          col("n_chars")).as("alpha_ratio"),
        (length(regexp_replace(col("text"), "[^ ]", "")).cast("double") /
          col("n_chars")).as("ws_ratio"),
        (hitCount("toks", StopwordsEn).cast("double") /
          size(col("toks"))).as("stopword_ratio"))
      .withColumn(
        "quality_score",
        round(
          least(lit(1.0), col("n_tokens").cast("double") / lit(100.0)) * lit(0.5) +
            col("alpha_ratio") * lit(0.5),
          6))
  }

  /** N-gram-heuristic language identification: score per language = count of
    * that language's function words among the tokens; argmax with a fixed
    * alphabetical tie-break; zero hits → "und". Deterministic by construction.
    */
  def languageId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      actualLangCol: Option[String] = None): DataFrame = {
    val base = docs.select(
      (Seq(col(idCol), tokens(col(textCol)).as("toks")) ++
        actualLangCol.map(c => col(c).as("actual_lang"))): _*)
    val scored = base.select(
      (Seq(
        col(idCol),
        hitCount("toks", StopwordsDe).as("c_de"),
        hitCount("toks", StopwordsEn).as("c_en"),
        hitCount("toks", StopwordsEs).as("c_es"),
        hitCount("toks", StopwordsFr).as("c_fr")) ++
        actualLangCol.map(_ => col("actual_lang"))): _*)
    scored.withColumn(
      "predicted_lang",
      when(greatest(col("c_de"), col("c_en"), col("c_es"), col("c_fr")) === 0, lit("und"))
        .when(col("c_de") === greatest(col("c_de"), col("c_en"), col("c_es"), col("c_fr")), lit("de"))
        .when(col("c_en") === greatest(col("c_de"), col("c_en"), col("c_es"), col("c_fr")), lit("en"))
        .when(col("c_es") === greatest(col("c_de"), col("c_en"), col("c_es"), col("c_fr")), lit("es"))
        .otherwise(lit("fr")))
  }

  /** Word n-gram shingles, distinct per doc: (id, shingle). Documents shorter
    * than `n` words contribute no rows. The guard filter avoids Spark's
    * descending `sequence(0, negative)` surprise on short docs.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= n)
      .select(col(idCol), explode(shingleArray(n)).as("shingle"))

  /** The doc's DISTINCT word-n-gram array from its token array `w` —
    * row-local; shared by [[shingles]] (which explodes it) and
    * [[gramNovelty]] (which also uses its size directly).
    */
  private def shingleArray(n: Int) =
    array_distinct(expr(
      s"transform(sequence(0, size(w) - $n), i -> " +
        (0 until n).map(j => s"w[i + $j]").mkString("concat_ws(' ', ", ", ", ")") + ")"
    ))

  /** HTML/markup stripping — the WET-extraction cleanup pass run before any
    * tokenizer sees crawled text: tags removed, the five ubiquitous
    * entities decoded, whitespace collapsed. Emits (id, clean_text,
    * n_tags, n_entities) so the removal is auditable, not silent.
    * Entirely row-local (one regexp chain per row, zero exchanges).
    *
    * Cross-engine notes: the tag pattern `<[^>]*>` and the entity
    * alternation use only RE2/Java-common syntax (no lookaround); entity
    * DECODING is exact-string `replace` (not regex), and whitespace
    * collapse is the explicit ASCII class `[ \t\n\r]+` — every step
    * replays identically in the oracle.
    *
    * `&amp;` decodes LAST: each replace's output is re-scanned by the
    * replaces after it, so decoding `&amp;` first would cascade —
    * `&amp;lt;` → `&lt;` → `<`, re-introducing markup characters after
    * tag stripping (double-encoded text smuggling a tag through the
    * stripper). With `&amp;` last, `&amp;lt;` decodes to the literal
    * text `&lt;` and stops — the single-pass, non-recursive contract.
    */
  def stripMarkup(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val entities = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&nbsp;" -> " ", "&amp;" -> "&")
    val noTags = regexp_replace(col(textCol), "<[^>]*>", " ")
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r))
    }
    docs.select(
      col(idCol),
      trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " ")).as("clean_text"),
      size(regexp_extract_all(col(textCol), lit("<[^>]*>"), lit(0)))
        .cast("long").as("n_tags"),
      size(regexp_extract_all(col(textCol), lit("&(amp|lt|gt|quot|nbsp);"), lit(0)))
        .cast("long").as("n_entities"))
  }

  /** Per-document n-gram NOVELTY: how much of a document's distinct shingle
    * set also appears in OTHER documents (corpus document frequency > 1) —
    * the memorization/boilerplate mass signal that decides whether a doc
    * contributes new text or re-treads the corpus (the diagnosis side of
    * [[Dedup.substringSpans]]' span surgery, at shingle granularity:
    * cheap enough to run on everything, every screen pass).
    *
    * Emits (doc_id, n_shingles, n_shared, shared_frac) — `n_shared` the
    * doc's shingles with corpus df ≥ 2, `shared_frac` one exact double
    * division (1.0 = pure boilerplate, 0.0 = fully novel). Docs shorter
    * than `n` words emit no row (the [[shingles]] convention).
    *
    * Plan (the skew-safe 100 TB shape): `n_shingles` is ROW-LOCAL — the
    * size of the doc's distinct-shingle array, no explode, no exchange —
    * and `n_shared` is recovered from its COMPLEMENT: a shingle with
    * corpus df = 1 belongs to exactly one document, so `min(doc_id)` in
    * the df aggregation already names the owner of every unique shingle,
    * and n_shared = n_shingles − n_unique. That keeps every shuffle
    * partial-aggregated: the df groupBy combines MAP-SIDE, so a viral
    * boilerplate shingle ("all rights reserved" in 10% of the corpus)
    * collapses to one row per task before the exchange — where a
    * count-over-window on the shingle key would land every occurrence of
    * the hot key in ONE window partition (nothing splits a window
    * partition; AQE skew handling applies to joins, not windows). The
    * join-back is keyed on the DOC id over two |docs|-sized operands —
    * never on the shingle — so it can't skew either (a doc's shingle
    * count is bounded by its length). Cost: one explode pass, two
    * combining exchanges, one doc-keyed join; the documents scan runs
    * twice (both branches tokenize), each a column-pruned narrow map —
    * cheaper at corpus scale than materializing the exploded shingle
    * volume to avoid it. ScaleSmoke A/Bs this against the window form on
    * a corpus where every doc carries the same viral shingles.
    */
  def gramNovelty(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): DataFrame = {
    val base = docs
      .select(col(idCol), tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= n)
      .select(col(idCol), shingleArray(n).as("sh"))
    val perDoc = base.select(col(idCol), size(col("sh")).cast("long").as("n_shingles"))
    val uniquePerDoc = base
      .select(col(idCol), explode(col("sh")).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"), min(col(idCol)).as("only_doc"))
      .filter(col("df") === 1)
      .groupBy(col("only_doc"))
      .agg(count(lit(1)).as("n_unique"))
      .withColumnRenamed("only_doc", idCol)
    perDoc.join(uniquePerDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_shingles"),
        (col("n_shingles") - coalesce(col("n_unique"), lit(0L))).as("n_shared"),
        ((col("n_shingles") - coalesce(col("n_unique"), lit(0L))).cast("double") /
          col("n_shingles")).as("shared_frac"))
  }

  /** Repetition quality signals (the Gopher/MassiveText repetition filters):
    * duplicate word-trigram fraction and most-frequent-bigram share per
    * document — high values flag boilerplate loops, keyboard mash, and
    * degenerate generations. Emits exact integer numerators/denominators
    * (`n_trigrams`, `n_distinct_trigrams`, `top_bigram_n`, `n_bigrams`)
    * plus the two single-division fractions, so cross-engine verification
    * is bit-exact.
    *
    * Scale: ENTIRELY row-local — the top-bigram count folds over the
    * doc's own sorted bigram array (longest equal run via `aggregate`),
    * never exploding token rows into a shuffle. A corpus-wide repetition
    * screen is therefore a zero-exchange narrow scan, unlike frequency
    * joins (cf. [[tokenRarity]]) that need corpus statistics.
    */
  def repetitionStats(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(
        col(idCol),
        tokens(col(textCol)).as("w"))
      .select(
        col(idCol),
        expr("CASE WHEN size(w) >= 3 THEN transform(sequence(0, size(w) - 3)," +
          " i -> concat_ws(' ', w[i], w[i+1], w[i+2])) ELSE array() END").as("tri"),
        expr("CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w) - 2)," +
          " i -> concat_ws(' ', w[i], w[i+1])) ELSE array() END").as("bg"))
      .select(
        col(idCol),
        size(col("tri")).cast("long").as("n_trigrams"),
        size(array_distinct(col("tri"))).cast("long").as("n_distinct_trigrams"),
        size(col("bg")).cast("long").as("n_bigrams"),
        // longest equal run over the SORTED bigram array = the max bigram
        // multiplicity, computed without leaving the row
        expr(
          """aggregate(array_sort(bg),
            |          struct(CAST('' AS STRING) AS prev, 0L AS run, 0L AS best),
            |          (acc, x) -> struct(
            |            x AS prev,
            |            IF(x = acc.prev, acc.run + 1L, 1L) AS run,
            |            GREATEST(acc.best, IF(x = acc.prev, acc.run + 1L, 1L)) AS best),
            |          acc -> acc.best)""".stripMargin).as("top_bigram_n"))
      .select(
        col(idCol), col("n_trigrams"), col("n_distinct_trigrams"),
        col("n_bigrams"), col("top_bigram_n"),
        when(col("n_trigrams") > 0,
          (col("n_trigrams") - col("n_distinct_trigrams")).cast("double") / col("n_trigrams"))
          .otherwise(lit(0.0)).as("dup_trigram_frac"),
        when(col("n_bigrams") > 0,
          col("top_bigram_n").cast("double") / col("n_bigrams"))
          .otherwise(lit(0.0)).as("top_bigram_frac"))

  /** U+FFFD — what a decoder emits where bytes failed to decode. */
  val ReplacementCharPattern = "�"

  /** C0 controls except \t\n\r, plus DEL — never legitimate in prose. */
  val ControlCharPattern = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"

  /** Non-ASCII code points (legitimate in most languages — a RATE signal,
    * not a defect by itself).
    */
  val NonAsciiPattern = "[^\\x00-\\x7f]"

  /** Encoding-damage stats — the mojibake screen every crawl pipeline
    * runs before spending tokens on broken text: U+FFFD replacement
    * characters (a decoder already gave up there), stray C0/DEL control
    * characters, and the non-ASCII count (a rate signal for
    * language/binary-contamination heuristics, not a defect). Counts are
    * integers (code points, not bytes — both engines count characters);
    * `clean` is their zero-test. Row-local regexp counting, codegen'd,
    * zero exchanges.
    */
  def encodingStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      size(regexp_extract_all(col(textCol), lit(ReplacementCharPattern), lit(0)))
        .cast("long").as("n_replacement"),
      size(regexp_extract_all(col(textCol), lit(ControlCharPattern), lit(0)))
        .cast("long").as("n_control"),
      size(regexp_extract_all(col(textCol), lit(NonAsciiPattern), lit(0)))
        .cast("long").as("n_non_ascii"))
      .withColumn("clean", col("n_replacement") + col("n_control") === 0)

  /** Line-level repetition signals (Rae et al. 2021 Appendix A1.1 — the
    * duplicate-line and duplicate-line-character fractions that complement
    * [[repetitionStats]]' n-gram measures): for each document, how many
    * line occurrences belong to a line that appears ≥ 2 times in the SAME
    * document, and how many characters those occurrences carry. All
    * outputs are integers — callers threshold `dup·100 ≤ total·pct`
    * without a float ever materializing (the [[gopherRules]] discipline).
    *
    * Row-local: the duplicate-group tally is one fold over the SORTED
    * line array (run-length accounting, finalized in the finish lambda),
    * O(n log n) per document, zero exchanges — never the O(n²)
    * contains-scan a naive per-line count would do on a 10k-line page.
    */
  def lineRepetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), split(col(textCol), "\n").as("lines"))
      .select(col(idCol), col("lines"),
        expr(
          """aggregate(
            |  array_sort(lines),
            |  struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run,
            |         CAST(0 AS BIGINT) AS dup_occ, CAST(0 AS BIGINT) AS dup_chars),
            |  (acc, x) -> IF(x <=> acc.prev,
            |    struct(x AS prev, acc.run + 1L AS run,
            |           acc.dup_occ AS dup_occ, acc.dup_chars AS dup_chars),
            |    struct(x AS prev, CAST(1 AS BIGINT) AS run,
            |           acc.dup_occ + IF(acc.run >= 2L, acc.run, 0L) AS dup_occ,
            |           acc.dup_chars + IF(acc.run >= 2L,
            |             acc.run * CAST(length(acc.prev) AS BIGINT), 0L) AS dup_chars)),
            |  acc -> struct(
            |    acc.dup_occ + IF(acc.run >= 2L, acc.run, 0L) AS dup_occ,
            |    acc.dup_chars + IF(acc.run >= 2L,
            |      acc.run * CAST(length(acc.prev) AS BIGINT), 0L) AS dup_chars))
            |""".stripMargin).as("d"))
      .select(col(idCol),
        size(col("lines")).cast("long").as("n_lines"),
        size(array_distinct(col("lines"))).cast("long").as("n_distinct_lines"),
        col("d.dup_occ").as("dup_line_occurrences"),
        col("d.dup_chars").as("dup_line_chars"),
        expr("aggregate(lines, CAST(0 AS BIGINT), (a, l) -> a + length(l))")
          .as("total_line_chars"))

  /** PII scrubbing: redact emails and URLs with placeholder tokens and
    * count the redactions — the privacy pass of a training-data pipeline.
    * Patterns stick to character classes both Java regex and RE2 interpret
    * identically (no lookaround, no backrefs), so the operation is
    * engine-portable; row-local and codegen'd, no shuffle.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[^ ]+"

  def scrub(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      regexp_replace(regexp_replace(col(textCol), UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>").as("scrubbed"),
      size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(UrlPattern), lit(0)))
        .cast("long").as("n_urls"))

  /** IPv4-shaped dotted quad (no lookaround — Java regex and RE2 agree). */
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** International-format phone: +CC then three space-separated groups. */
  val PhonePattern = "\\+[0-9]{1,3} [0-9]{3} [0-9]{3} [0-9]{3,4}"

  /** Payment-card candidate: a 13-19 digit run on word boundaries. */
  val CardPattern = "\\b[0-9]{13,19}\\b"

  /** PII DETECTION counts — the audit-side complement of [[scrub]]'s
    * redaction: emails, IPv4 addresses, international-format phone
    * numbers, and payment-card numbers, where card candidates are
    * validated with the Luhn mod-10 checksum so a random 16-digit run is
    * not reported as a card. The Luhn fold is pure integer arithmetic
    * over the reversed digit string (double every second digit, subtract
    * 9 above 9, sum mod 10) — replayable bit-for-bit in any engine, no
    * float anywhere. All patterns stick to syntax Java regex and RE2
    * interpret identically. Row-local, codegen'd, zero exchanges.
    */
  def piiStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val luhnValid =
      """d -> aggregate(sequence(1, length(d)), 0,
        |  (acc, i) -> acc +
        |    CASE WHEN i % 2 = 0
        |      THEN 2 * (ascii(substring(reverse(d), i, 1)) - 48) -
        |        CASE WHEN ascii(substring(reverse(d), i, 1)) - 48 > 4
        |          THEN 9 ELSE 0 END
        |      ELSE ascii(substring(reverse(d), i, 1)) - 48 END) % 10 = 0
        |""".stripMargin.replace("\n", " ")
    docs
      .select(col(idCol),
        regexp_extract_all(col(textCol), lit(CardPattern), lit(0)).as("cands"),
        col(textCol).as("txt"))
      .select(col(idCol),
        size(regexp_extract_all(col("txt"), lit(EmailPattern), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("txt"), lit(Ipv4Pattern), lit(0)))
          .cast("long").as("n_ipv4"),
        size(regexp_extract_all(col("txt"), lit(PhonePattern), lit(0)))
          .cast("long").as("n_phones"),
        size(col("cands")).cast("long").as("n_card_candidates"),
        expr(s"size(filter(cands, $luhnValid))").cast("long").as("n_cards_valid"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ipv4") + col("n_phones") + col("n_cards_valid") > 0)
  }

  /** Count-Min Sketch token-frequency estimates (Cormode & Muthukrishnan
    * 2005): `depth` hash rows × `width` counters, estimate = min over
    * rows of the counter each row hashes the token into. Always an
    * OVERestimate (collisions only add), exact when no collision — the
    * EngineSpec property.
    *
    * Why a sketch when `groupBy(token).count()` exists: the exact count's
    * hash-aggregation state grows with DISTINCT-key cardinality — at
    * 100 TB of web tokens that state is what OOMs, not the data volume.
    * The CMS state is d·w counters per task REGARDLESS of cardinality:
    * each task folds its tokens into a dense counter table and the tables
    * add up a `treeAggregate` tree ([[cmsFold]]) — no exchange, one job.
    * The counter table (d·w longs) reaches the driver and folds back as a
    * literal map; probe estimation is row-local.
    *
    * Hashes are the repo's engine-portable md5-prefix discipline
    * (row j hashes `j || ':' || token`), so the oracle replays the whole
    * sketch — build and probe — in SQL.
    */
  def cmsTokenEstimates(docs: DataFrame, probes: DataFrame,
      width: Int = 64, depth: Int = 3,
      textCol: String = "text", probeCol: String = "token"): DataFrame =
    cmsProbe(cmsFold(docs, width, depth, textCol), probes, width, depth, probeCol)

  /** The counter table's shape: `width >= 2`, `depth >= 1`, and at most
    * `Int.MaxValue` counters, the dense fold's array bound.
    */
  private[graft] def cmsShape(width: Int, depth: Int): Unit = {
    require(width >= 2 && depth >= 1, s"need width>=2, depth>=1: $width/$depth")
    require(width.toLong * depth <= Int.MaxValue,
      s"CMS table of width $width × depth $depth = ${width.toLong * depth} " +
        s"counters exceeds ${Int.MaxValue}, the dense fold's array bound")
  }

  /** The CMS row hash: `md5(j || ':' || token)` 4-hex prefix mod width —
    * engine-portable (the oracle replays it in SQL).
    */
  private[graft] def cmsBucket(j: Int, t: Column, width: Int): Column =
    conv(substring(md5(concat(lit(s"$j:"), t)), 1, 4), 16, 10)
      .cast("long") % width

  /** Build the counter table in ONE Spark job, as the flat driver map
    * keyed `j·width + b` of every non-zero counter. Catalyst projects each
    * token to its `depth` buckets ([[cmsBucket]]); each task adds its
    * rows into a dense `Array[Long](depth·width)` (8·d·w bytes, allocated
    * at its first row, so an empty partition ships nothing) and
    * `treeAggregate` adds the arrays, inside one tracked SQL execution —
    * no exchange, so one job where a `groupBy` is two under AQE (a map
    * stage, then the result). Counter maps from different corpora or
    * batches MERGE by key-wise addition — the property the streaming twin
    * ([[graft.streaming.CmsStream]]) is built on.
    */
  private[graft] def cmsFold(
      docs: DataFrame, width: Int, depth: Int, textCol: String): Map[Long, Long] = {
    cmsShape(width, depth)
    val qe = docs
      .select(explode(tokens(col(textCol))).as("t"))
      .select((0 until depth).map(j => cmsBucket(j, col("t"), width)): _*)
      .queryExecution
    val size = width * depth
    val table = SQLExecution.withNewExecutionId(qe, Some("count-min sketch")) {
      qe.toRdd.treeAggregate(Array.emptyLongArray)(
        (acc, row) => {
          val a = if (acc.length == 0) new Array[Long](size) else acc
          var j = 0
          while (j < depth) {
            a(j * width + row.getLong(j).toInt) += 1
            j += 1
          }
          a
        },
        (a, b) =>
          if (a.length == 0) b
          else if (b.length == 0) a
          else { var i = 0; while (i < size) { a(i) += b(i); i += 1 }; a })
    }
    table.iterator.zipWithIndex.collect { case (n, i) if n != 0 => i.toLong -> n }.toMap
  }

  /** The row-local probe half: estimate = min over rows of the addressed
    * counter (absent counter = 0).
    */
  private[graft] def cmsProbe(
      counters: Map[Long, Long], probes: DataFrame,
      width: Int, depth: Int, probeCol: String): DataFrame = {
    val mapLit = typedLit(counters)
    probes.select(col(probeCol),
      least((0 until depth).map(j =>
        coalesce(
          element_at(mapLit, lit(j.toLong * width) + cmsBucket(j, col(probeCol), width)),
          lit(0L))): _*).as("est_count"))
  }

  /** HyperLogLog distinct-token estimate (Flajolet et al. 2007) — the
    * cardinality twin of [[cmsTokenEstimates]]' frequency sketch, and the
    * same 100 TB argument: exact `COUNT(DISTINCT token)` carries the FULL
    * distinct-key set through aggregation state (the thing that stops
    * fitting at web-token cardinalities), while HLL state is m = 2^b
    * register bytes per task partial, merged by element-wise max. Spark's
    * own `approx_count_distinct` is HLL++ with an engine-internal sketch;
    * this form is built from the engine-portable md5 primitives so the
    * whole sketch — register assignment, rank, harmonic sum, small-range
    * correction — replays bit-for-bit in any engine (the [[cmsTokenEstimates]]
    * reason).
    *
    * Determinism: the register index is the first b md5 bits, the rank is
    * leading-zeros+1 of the next 60 bits (via the binary-string length —
    * integer, no log), and the harmonic sum Σ 2^−Mⱼ is EXACT INTEGER
    * arithmetic — each term is `2^62 >> Mⱼ`, summed through a DECIMAL
    * carrier, so there is no float-ordering hazard anywhere; floats appear
    * only in the final one-shot estimate division (rounded 6 dp) and the
    * 6-dp-rounded `ln` of the small-range linear-counting branch.
    *
    * Emits ONE row: (m, n_tokens, n_distinct_exact, zero_registers,
    * raw_estimate, estimate). The exact-distinct column is the fixture-
    * scale accuracy A/B (and the expensive thing the sketch replaces) —
    * drop it at real scale. Plan: one narrow hash projection into a
    * 2^b-key aggregate (map-side combined — the whole point), plus the
    * demo-only exact aggregate.
    */
  def hllDistinct(docs: DataFrame, b: Int = 8,
      textCol: String = "text"): DataFrame = {
    require(b % 4 == 0 && b >= 4 && b <= 16,
      s"register bits must be 4, 8, 12, or 16 (whole hex chars): $b")
    val m = 1 << b
    val hexChars = b / 4
    val scale = 4611686018427387904L // 2^62: rank <= 61 keeps 2^62 >> rank exact
    val toks = docs.select(explode(tokens(col(textCol))).as("t"))
    val regs = toks
      .select(md5(col("t")).as("h"))
      .select(
        conv(substring(col("h"), 1, hexChars), 16, 10).cast("long").as("reg"),
        conv(substring(col("h"), hexChars + 1, 15), 16, 10).cast("long").as("v"))
      .select(col("reg"),
        when(col("v") === 0L, lit(61))
          .otherwise(lit(61) - length(bin(col("v")))).as("rank"))
      .groupBy(col("reg"))
      .agg(max(col("rank")).as("mr"))
      .agg(
        count(lit(1)).as("present"),
        sum(expr(s"CAST(shiftright(${scale}L, mr) AS DECIMAL(28,0))")).as("ssum"))
    val stats = toks.agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("t")).as("n_distinct_exact"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    regs.crossJoin(broadcast(stats))
      .withColumn("zero_registers", (lit(m) - col("present")).cast("long"))
      .withColumn("sd",
        (col("ssum") + col("zero_registers").cast("decimal(28,0)") * lit(scale))
          .cast("double"))
      .withColumn("raw_estimate",
        round(alpha * lit(m.toDouble) * lit(m.toDouble) * lit(scale.toDouble)
          / col("sd"), 6))
      .withColumn("estimate",
        when(col("raw_estimate") <= lit(2.5 * m) && col("zero_registers") > 0,
          round(lit(m.toDouble) *
            round(log(lit(m.toDouble) / col("zero_registers")), 6), 6))
          .otherwise(col("raw_estimate")))
      .select(lit(m).as("m"), col("n_tokens"), col("n_distinct_exact"),
        col("zero_registers"), col("raw_estimate"), col("estimate"))
  }

  /** TF-IDF over whitespace tokens: term frequency per (doc, word), document
    * frequency per word, weight = tf · ln(N/df). Corpus size joins in as a
    * broadcast scalar (no driver-side action, no global state) — two keyed
    * aggregations and one broadcast join, the canonical 100 TB shape.
    */
  def tfIdf(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("word"))
    val tf = toks.groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(nDocs))
      .select(
        col(idCol), col("word"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
  }

  /** Token-rarity scoring: each document's mean corpus frequency over its
    * tokens — the cheap unigram-LM stand-in for quality filtering (CCNet
    * lineage: documents made of globally-common tokens are boilerplate-ish;
    * documents of globally-rare tokens are noise/garble; the training-data
    * sweet spot sits between, and the thresholds are a downstream policy).
    *
    * Emits the exact integer numerator/denominator (`sum_freq`,
    * `n_tokens`) plus their single-division mean, so cross-engine
    * verification is bit-exact — no float summation order anywhere: the
    * float is produced by ONE int64/int64 division per row.
    *
    * Plan shape: token frequencies are one hash aggregation; the
    * tokens-to-frequency join keys on the word. The frequency table is
    * vocabulary-sized (Zipf: millions of rows at web scale, ≪ corpus), so
    * AQE broadcasts it when it fits and falls back to a shuffle join when
    * it doesn't — deliberately not pinned to `broadcast()` here, unlike
    * the always-tiny corpus-count scalar in [[tfIdf]].
    */
  def tokenRarity(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("word"))
    val freq = toks.groupBy(col("word")).agg(count(lit(1)).as("freq"))
    toks.join(freq, "word")
      .groupBy(col(idCol))
      .agg(sum(col("freq")).as("sum_freq"), count(lit(1)).as("n_tokens"))
      .select(
        col(idCol), col("sum_freq"), col("n_tokens"),
        (col("sum_freq").cast("double") / col("n_tokens")).as("mean_freq"))
  }

  /** Bigram-LM document scoring — the CCNet-lineage quality signal a
    * unigram rarity screen ([[tokenRarity]]) cannot express: score each
    * document by the mean log conditional probability of its word bigrams
    * under the corpus's own MLE bigram model, `lp(w1 w2) = ln(c(w1,w2) /
    * c(w1·))` with `c(w1·)` the bigram-head count. Fluent in-domain text
    * scores near 0; keyboard mash and wrong-language text score strongly
    * negative. Documents shorter than two tokens have no bigrams and emit
    * no row (same convention as [[shingles]]).
    *
    * Cross-engine determinism: each term is ONE exact integer ratio →
    * one `ln` → round 6 (the [[tfIdf]] discipline), summed through
    * DECIMAL(28,12) (order-insensitive), and the mean is a single
    * division rounded 6 — every emitted double verifies bit-exact.
    *
    * Plan shape: one explode + two vocabulary-sized count aggregations;
    * the model joins back onto the bigram stream by key (vocabulary ≪
    * corpus — AQE broadcasts when it fits, exactly the [[tokenRarity]]
    * frequency-join contract), then one per-doc aggregation.
    */
  /** Token-distribution (Shannon) entropy per document — the
    * distribution-level quality screen next to [[repetitionStats]]'
    * surface-level one: keyword-stuffed, templated, or spam text
    * concentrates probability mass on few tokens and scores LOW even when
    * no literal n-gram repeats (what the duplicate-trigram fraction
    * cannot see); natural prose over the same length scores near the
    * ln(n_distinct) ceiling. H = −Σ (c/n)·ln(c/n) over the doc's
    * whitespace-token counts.
    *
    * Cross-engine determinism (the [[lmScore]] discipline): each
    * (doc, token) term is `round(c · (round(ln c, 6) − round(ln n, 6)), 6)`
    * — integer counts, both lns individually 6-dp-fenced (the
    * [[graft.operators.Splits.dsirWeights]] subtraction rule), one double
    * product rounded once — then per-doc terms DECIMAL-sum (exact,
    * order-free) and the final division rounds at the edge. `+0.0`
    * normalizes the −0.0 a zero-entropy (single-token) document would
    * otherwise emit.
    *
    * Scale shape: one explode into a (doc, token) map-side-combined hash
    * agg, a doc-keyed join of doc-sized operands, one doc agg — no
    * window, no token-keyed join (nothing moves a hot TOKEN's row set
    * anywhere; both exchanges key on the doc or combine first).
    */
  def entropyStats(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
    val wc = tok.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    val nd = wc.groupBy(col(idCol)).agg(sum(col("c")).as("n"))
    wc.join(nd, Seq(idCol))
      .select(col(idCol), col("n"),
        round(col("c").cast("double") *
          (round(log(col("c").cast("double")), 6) -
            round(log(col("n").cast("double")), 6)),
          6).as("term"))
      .groupBy(col(idCol))
      .agg(
        max(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        (round(-sum(col("term").cast(DecimalType(28, 12))).cast("double") /
          max(col("n")), 6) + lit(0.0)).as("entropy"))
  }

  /** PMI collocations (Church & Hanks 1990, "Word Association Norms,
    * Mutual Information, and Lexicography"): unordered token pairs
    * co-occurring within a `window`-token span, scored by pointwise
    * mutual information — the collocation/phrase-mining statistic
    * (tokenizer vocab candidates, multi-word entities).
    *
    * PMI = ln(p(a,b) / (p(a)·p(b))) expanded to the all-integer-input
    * form ln c_ab − ln P − ln c_a − ln c_b + ln T + ln T and computed as
    * a FIXED-ORDER chain of 6-dp-rounded `ln` terms (the [[entropyStats]]
    * fencing discipline) so the oracle replays it bit-for-bit; `+0.0`
    * normalizes a rounded −0.0.
    *
    * Scale shape: the pair generator is a position self-join per doc with
    * fan-out ≤ `window` per token (never doc-length²); pair and unigram
    * counts are map-side-combined aggs; the `minCount` support filter
    * cuts the pair table BEFORE the unigram joins (both token-keyed
    * equi-joins, AQE-splittable); T and P ride broadcast 1-row frames.
    * The unigram agg is an exact token-keyed count — at 100 TB reuse the
    * precomputed df/count table the tf-idf lane already maintains rather
    * than re-aggregating per call.
    */
  def collocations(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 5, minCount: Long = 20): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val pos = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("i", "w")))
    val uni = pos.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val tot = pos.agg(count(lit(1)).as("t"))
    val pairs = pos.as("x").join(pos.as("y"),
        col(s"x.$idCol") === col(s"y.$idCol") &&
          col("y.i") > col("x.i") && col("y.i") <= col("x.i") + window)
      .select(least(col("x.w"), col("y.w")).as("w_a"),
        greatest(col("x.w"), col("y.w")).as("w_b"))
    val ptot = pairs.agg(count(lit(1)).as("p"))
    pairs.groupBy(col("w_a"), col("w_b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("w_a"), col("cw").as("c_a")), Seq("w_a"))
      .join(uni.select(col("w").as("w_b"), col("cw").as("c_b")), Seq("w_b"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ptot))
      .select(col("w_a"), col("w_b"), col("c_ab"), col("c_a"), col("c_b"),
        (round(
          round(log(col("c_ab")), 6) - round(log(col("p")), 6) -
            round(log(col("c_a")), 6) - round(log(col("c_b")), 6) +
            round(log(col("t")), 6) + round(log(col("t")), 6),
          6) + lit(0.0)).as("pmi"))
  }

  def lmScore(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bg = docs.select(col(idCol), tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i+1] AS w2))")).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val pairC = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val headC = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bg.join(pairC, Seq("w1", "w2")).join(headC, Seq("w1"))
      .select(col(idCol),
        round(log(col("c2").cast("double") / col("c1")), 6).as("lp"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("lp").cast(DecimalType(28, 12))).cast("double").as("sum_logp"))
      .select(col(idCol), col("n_bigrams"), col("sum_logp"),
        round(col("sum_logp") / col("n_bigrams"), 6).as("mean_logp"))
  }

  /** CCNet-style per-language quality bucketing (Wenzek et al. 2019, "CCNet:
    * Extracting high quality monolingual datasets from web crawl data",
    * §"quality buckets"): score every document with the corpus bigram LM
    * ([[lmScore]]), then split each LANGUAGE's score distribution at the
    * `lowQ`/`highQ` quantiles into `tail` / `middle` / `head` — the
    * standard head-middle-tail partitioning a web-scale pretraining
    * pipeline uses to stage data quality (CCNet buckets on LM perplexity;
    * our score is mean log-probability, so HIGHER = better = head).
    *
    * Scale shape — deliberately NOT a per-language ntile window (a window
    * sorts each language's full history in one task chain; languages are
    * few, so that serializes the corpus onto a handful of tasks): per-lang
    * thresholds come from `approx_percentile`, whose Greenwald–Khanna
    * summary is a BOUNDED, mergeable aggregation buffer (the
    * `q_percentile_approx`-row contract: rank-exact while accuracy ≥
    * group cardinality, graceful ≤ n/accuracy rank error beyond), the tiny
    * (lang, t_low, t_high) table broadcasts, and bucketing is one
    * row-local comparison. Two exchanges total (the per-doc score agg
    * inside lmScore + the threshold agg); nothing global-sorts.
    *
    * Bucket rule (mirrored exactly in the oracle): `score > t_high` →
    * head; `score > t_low` → middle; else tail. Thresholds are rank-exact
    * order statistics (the smallest value with ≥ q·n at or below — DuckDB
    * `quantile_disc`), so documents AT a threshold fall in the lower
    * bucket on both engines. Documents with < 2 tokens have no bigrams,
    * hence no score and no row (the [[lmScore]] convention).
    */
  def ccnetBuckets(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang", lowQ: Double = 1.0 / 3, highQ: Double = 2.0 / 3,
      accuracy: Int = 1000000): DataFrame = {
    require(lowQ > 0 && highQ < 1 && lowQ <= highQ,
      s"quantiles must satisfy 0 < lowQ <= highQ < 1, got ($lowQ, $highQ)")
    val scored = lmScore(docs, idCol, textCol)
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
    val th = scored.groupBy(col(langCol)).agg(
      percentile_approx(col("mean_logp"), lit(lowQ), lit(accuracy)).as("t_low"),
      percentile_approx(col("mean_logp"), lit(highQ), lit(accuracy)).as("t_high"))
    scored.join(broadcast(th), Seq(langCol))
      .select(col(idCol), col(langCol), col("mean_logp"),
        when(col("mean_logp") > col("t_high"), lit("head"))
          .when(col("mean_logp") > col("t_low"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Corpus text containing a literal ⟨ or ⟩ would inject token boundaries
    * mid-token and silently corrupt the delimited representation (breaking
    * the lossless-segmentation property the tests pin) — fail loudly
    * instead. One contains-check per row, evaluated inside the same narrow
    * projection that builds the representation.
    */
  private def delimiterChecked(c: Column, who: String): Column =
    when(c.contains("⟨") || c.contains("⟩"),
      raise_error(concat(
        lit(s"$who: text contains the reserved delimiter characters ⟨/⟩ (U+27E8/U+27E9): "), c)))
      .otherwise(c)

  /** BPE-style tokenizer vocabulary induction (word-level byte-pair
    * encoding): `merges` rounds of [count all adjacent token pairs across
    * the corpus → take the most frequent pair (count DESC, then
    * lexicographic — fully deterministic) → merge its adjacent occurrences
    * left-to-right everywhere]. Returns the learned merge table
    * `(merge_round, lhs, rhs, n_occurrences)` — the model artifact a
    * tokenizer trainer emits.
    *
    * Distribution contract: pair counting — the O(corpus) work — is one
    * explode + hash aggregation per round, fully distributed; only the
    * single argmax row crosses to the driver each round (selecting the
    * merge IS a global decision — this collect is the algorithm, not a
    * shortcut). Merge application is a row-local string `replace` on the
    * delimited token representation (`⟨a⟩⟨b⟩ → ⟨a b⟩`, left-to-right
    * non-overlapping — exactly standard BPE application order), so no
    * round shuffles anything but its own pair aggregation.
    *
    * The delimited form makes the merge engine-portable: any SQL engine's
    * literal `replace` applies the same vocabulary identically, which is
    * how the DuckDB oracle replays the full training loop. Tokens must not
    * contain the `⟨⟩` delimiters — text carrying them raises a plan-side
    * error rather than silently corrupting segmentation.
    */
  def bpeVocab(docs: DataFrame, textCol: String = "text", merges: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ONE persisted frame for the whole loop: the UNMERGED delimited
    // corpus. Each round re-applies the learned merge chain to it as a
    // row-local codegen'd `replace` fold inside that round's pair-count
    // job — so the loop runs exactly ONE Spark job per round (the argmax
    // collect; the first one also materializes the cache) instead of the
    // old shape's per-round persist + count() materialization + collect.
    // Under a loaded scheduler, job COUNT is the contention multiplier
    // (each job pays queueing latency), so halving jobs-per-round halves
    // the loop's load sensitivity; the re-applied replace chain costs
    // O(round) row-local string passes — trivial next to the shuffle, and
    // bounded by the merge budget.
    var base = docs.select(
      concat(lit("⟨"),
        array_join(split(lower(delimiterChecked(col(textCol), "bpeVocab")), " "), "⟩⟨"),
        lit("⟩")).as("r"))
      .persist(lvl)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    // merges already BAKED INTO base's rows; the per-round fold re-applies
    // only the pending suffix, and every `foldEvery` rounds the suffix is
    // materialized into a fresh cached base — bounding both the Catalyst
    // expression depth and the per-round row-local work at O(foldEvery)
    // for ANY merge budget (one extra materialization job per chunk,
    // amortized 1/foldEvery per round)
    var folded = 0
    val foldEvery = 16
    var round = 1
    var exhausted = false
    while (round <= merges && !exhausted) {
      val repr = learned.drop(folded).foldLeft(col("r")) { case (acc, (_, l, r, _)) =>
        call_function("replace", acc,
          lit("⟨" + l + "⟩⟨" + r + "⟩"), lit("⟨" + l + " " + r + "⟩"))
      }
      val top = base
        .select(split(regexp_replace(repr, "^⟨|⟩$", ""), "⟩⟨").as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS l, t[i+1] AS rt))")).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.rt").as("rhs"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((round.toLong, l, r, n))
      }
      if (learned.size - folded >= foldEvery) {
        val pendRepr = learned.drop(folded).foldLeft(col("r")) {
          case (acc, (_, l, r, _)) =>
            call_function("replace", acc,
              lit("⟨" + l + "⟩⟨" + r + "⟩"), lit("⟨" + l + " " + r + "⟩"))
        }
        val prev = base
        base = prev.select(pendRepr.as("r")).persist(lvl)
        base.count() // materialize before releasing the chunk's parent
        prev.unpersist(blocking = false)
        folded = learned.size
      }
      round += 1
    }
    base.unpersist(blocking = false)
    import spark.implicits._
    learned.toSeq.toDF("merge_round", "lhs", "rhs", "n_occurrences")
  }

  /** Sample-trained BPE — the production form of [[bpeVocab]] for real
    * tokenizer merge counts. A 32k-merge tokenizer cannot run 32k
    * full-corpus Spark jobs over 100 TB, and does not have to: merge
    * statistics are frequency-dominated (Zipf), so the standard scale path
    * trains on a corpus sample and applies the artifact everywhere with the
    * row-local [[bpeEncode]]. The sample here is the engine-portable
    * [[Splits]] md5-bucket discipline (2-hex threshold on the id, 1/256
    * granularity): a pure function of the id, stable across runs, engines
    * and partitionings — which is exactly what lets a SQL oracle re-draw
    * the IDENTICAL sample and replay training on it. `sampleFrac = 1`
    * keeps every row and reproduces [[bpeVocab]] bit-for-bit (EngineSpec
    * pins it).
    */
  def bpeVocabSampled(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      merges: Int = 4, sampleFrac: Double = 0.25): DataFrame = {
    require(sampleFrac > 0.0 && sampleFrac <= 1.0,
      s"sampleFrac must be in (0,1], got $sampleFrac")
    bpeVocab(
      docs.filter(substring(md5(col(idCol).cast("string")), 1, 2)
        < Splits.fractionThreshold(sampleFrac)),
      textCol, merges)
  }

  /** The sampled-training predicate as SQL text, for oracle mirroring. */
  def bpeSampleWhereSql(idExpr: String, sampleFrac: Double): String =
    s"WHERE substring(md5(CAST($idExpr AS VARCHAR)),1,2) < '${Splits.fractionThreshold(sampleFrac)}'"

  /** The same `merges`-round training loop as SQL text (oracle mirroring):
    * unrolled CTE chain — each round derives the argmax pair of the
    * previous round's representation and applies it with the identical
    * literal `replace`.
    */
  def bpeVocabSql(merges: Int): String = {
    val rounds = (1 to merges).map { k =>
      s"""t$k AS (
         |  SELECT string_split(substr(r, 2, length(r) - 2), '⟩⟨') AS t FROM r${k - 1}),
         |p$k AS (
         |  SELECT t[i] AS lhs, t[i+1] AS rhs, COUNT(*) AS n
         |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t$k WHERE len(t) >= 2)
         |  GROUP BY 1, 2),
         |m$k AS (SELECT lhs, rhs, n FROM p$k ORDER BY n DESC, lhs, rhs LIMIT 1),
         |r$k AS (
         |  SELECT replace(r, '⟨'||m$k.lhs||'⟩⟨'||m$k.rhs||'⟩',
         |                    '⟨'||m$k.lhs||' '||m$k.rhs||'⟩') AS r
         |  FROM r${k - 1}, m$k)""".stripMargin
    }.mkString(",\n")
    val union = (1 to merges)
      .map(k => s"SELECT $k AS merge_round, lhs, rhs, n AS n_occurrences FROM m$k")
      .mkString("\nUNION ALL ")
    s"""WITH r0 AS (
       |  SELECT '⟨'||array_to_string(string_split(lower(text), ' '), '⟩⟨')||'⟩' AS r
       |  FROM documents),
       |$rounds
       |SELECT CAST(merge_round AS BIGINT) AS merge_round, lhs, rhs, n_occurrences
       |FROM ($union)
       |ORDER BY merge_round""".stripMargin
  }

  /** BPE ENCODE — the apply side of [[bpeVocab]]: run a trained merge list
    * over each document and emit its token stream `(doc_id, pos, token,
    * token_id)`. This is what makes the tokenizer pipeline end at token
    * ids instead of at a vocabulary: train once ([[bpeVocab]]), encode the
    * whole corpus with the artifact.
    *
    * Merge application is a ROW-LOCAL fold: the merge list unrolls into a
    * chain of literal `replace` calls over the delimited representation
    * (`⟨a⟩⟨b⟩ → ⟨a b⟩`, left-to-right non-overlapping — byte-for-byte the
    * same mechanics as training's merge application, so encoding with the
    * induced vocabulary reproduces the training loop's final corpus state;
    * EngineSpec round-trips this). No shuffle anywhere in the encode pass
    * itself.
    *
    * Token ids are the vocabulary's alphabetical dense rank over the
    * OUTPUT's distinct tokens — deterministic and engine-portable (no
    * hash, no driver state). The ranking window runs over the
    * vocabulary-sized distinct-token table, not the corpus (Zipf: tiny),
    * the same scale discipline as [[bpeVocab]]'s argmax; the id join back
    * to the token stream is vocabulary-sized and AQE-broadcastable.
    */
  /** The trained-merge fold over one document's delimited representation —
    * shared by [[bpeEncode]] and [[tokenizerFertility]] so the apply side
    * cannot drift between them. Row-local, codegen'd `replace` chain.
    */
  private def bpeMergedRepr(textCol: String, merges: Seq[(String, String)],
      caller: String): Column = {
    require(merges.forall { case (l, r) =>
      !l.contains("⟨") && !l.contains("⟩") && !r.contains("⟨") && !r.contains("⟩") },
      "merge tokens must not contain the ⟨⟩ delimiters")
    val r0 = concat(lit("⟨"),
      array_join(tokens(delimiterChecked(col(textCol), caller)), "⟩⟨"), lit("⟩"))
    merges.foldLeft(r0) { case (acc, (l, r)) =>
      call_function("replace", acc, lit("⟨" + l + "⟩⟨" + r + "⟩"), lit("⟨" + l + " " + r + "⟩"))
    }
  }

  def bpeEncode(
      docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val rFinal = bpeMergedRepr(textCol, merges, "bpeEncode")
    val enc = docs
      .select(col(idCol), rFinal.as("r"))
      .select(col(idCol),
        posexplode(split(regexp_replace(col("r"), "^⟨|⟩$", ""), "⟩⟨"))
          .as(Seq("pos", "token")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("token"))
    // alphabetical dense rank over DISTINCT tokens ≡ row_number in token
    // order, computed range-sharded ([[graft.operators.ShardedFold]]): a
    // 100 TB corpus's multi-million-type vocabulary never funnels through
    // one ordered-window task; ≤ shards offset rows broadcast
    val vocab = graft.operators.ShardedFold.prefix(
      enc.select(col("token")).distinct(),
      keyCols = Nil, orderCols = Seq("token"),
      sums = Nil, idxCol = Some("token_id"), shards = 64)
    enc.join(vocab, "token")
      .select(col(idCol), col("pos"), col("token"), col("token_id"))
  }

  /** [[bpeEncode]] fed by [[bpeVocab]]'s trained table, as SQL text (oracle
    * mirroring): the same unrolled training CTEs as [[bpeVocabSql]], with
    * the per-round merge application carrying `doc_id`, then the encoded
    * stream of docs with `doc_id < maxDocId` and alphabetical dense-rank
    * token ids.
    */
  /** The unrolled-training WITH prefix shared by [[bpeEncodeSql]] and
    * [[fertilitySql]] — ends at `r<merges>` (every doc's fully-merged
    * representation), no trailing comma.
    */
  private def bpeRoundsSql(merges: Int, trainWhere: String): String = {
    // trainWhere restricts PAIR COUNTING (the t_k/p_k CTEs) to the training
    // sample; merge APPLICATION (r_k) still rewrites every doc so the final
    // state encodes the full slice — train-on-sample, apply-everywhere
    val rounds = (1 to merges).map { k =>
      s"""t$k AS (
         |  SELECT string_split(substr(r, 2, length(r) - 2), '⟩⟨') AS t
         |  FROM r${k - 1} $trainWhere),
         |p$k AS (
         |  SELECT t[i] AS lhs, t[i+1] AS rhs, COUNT(*) AS n
         |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t$k WHERE len(t) >= 2)
         |  GROUP BY 1, 2),
         |m$k AS (SELECT lhs, rhs FROM p$k ORDER BY n DESC, lhs, rhs LIMIT 1),
         |r$k AS (
         |  SELECT doc_id, replace(r, '⟨'||m$k.lhs||'⟩⟨'||m$k.rhs||'⟩',
         |                            '⟨'||m$k.lhs||' '||m$k.rhs||'⟩') AS r
         |  FROM r${k - 1}, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH r0 AS (
       |  SELECT doc_id,
       |         '⟨'||array_to_string(string_split(lower(text), ' '), '⟩⟨')||'⟩' AS r
       |  FROM documents),
       |$rounds""".stripMargin
  }

  def bpeEncodeSql(merges: Int, maxDocId: Long, trainWhere: String = ""): String = {
    s"""${bpeRoundsSql(merges, trainWhere)},
       |enc AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tok AS token
       |  FROM (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS i
       |        FROM (SELECT doc_id, string_split(substr(r, 2, length(r) - 2), '⟩⟨') AS t
       |              FROM r$merges WHERE doc_id < $maxDocId))),
       |vocab AS (
       |  SELECT token, CAST(dense_rank() OVER (ORDER BY token) AS BIGINT) AS token_id
       |  FROM (SELECT DISTINCT token FROM enc))
       |SELECT enc.doc_id, enc.pos, enc.token, vocab.token_id
       |FROM enc JOIN vocab USING (token)
       |ORDER BY enc.doc_id, enc.pos""".stripMargin
  }

  /** Tokenizer FERTILITY audit: per group (default: the corpus's language
    * column) the token count the trained BPE vocabulary produces against
    * the bytes it covers — tokens-per-byte in ppm. This is the number that
    * decides whether a tokenizer is fair across languages before training
    * on a multilingual mix: a language whose fertility is 2× another's
    * pays 2× the sequence length for the same content, skewing both
    * compute cost and effective mixture weights. The go/no-go audit run
    * after every vocabulary retrain.
    *
    * Scale shape: the merge fold is the SAME row-local `replace` chain as
    * [[bpeEncode]] ([[bpeMergedRepr]] — shared code, cannot drift), the
    * token count is a row-local `size(split(...))` (the stream is never
    * exploded), and the only exchange is the group-by on the language key
    * — map-side combined, group-cardinality rows.
    *
    * Determinism: counts and byte lengths are integers; fertility is an
    * integral `div` of 10⁶·tokens by bytes (no float), NULL on an
    * empty-byte group rather than an error.
    */
  def tokenizerFertility(docs: DataFrame, merges: Seq[(String, String)],
      byCol: String = "lang", textCol: String = "text"): DataFrame = {
    val rFinal = bpeMergedRepr(textCol, merges, "tokenizerFertility")
    docs
      .select(col(byCol),
        size(split(regexp_replace(rFinal, "^⟨|⟩$", ""), "⟩⟨"))
          .cast("long").as("n_tokens"),
        octet_length(col(textCol)).cast("long").as("n_bytes"))
      .groupBy(col(byCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_bytes")).as("total_bytes"))
      .withColumn("fert_ppm",
        when(col("total_bytes") === 0L, lit(null).cast("long"))
          .otherwise(expr("(1000000L * total_tokens) div total_bytes")))
  }

  /** [[tokenizerFertility]]'s oracle: the same unrolled training rounds as
    * [[bpeEncodeSql]], then the per-language integer fertility aggregate.
    */
  def fertilitySql(merges: Int, trainWhere: String = ""): String = {
    s"""${bpeRoundsSql(merges, trainWhere)},
       |tokc AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(substr(r, 2, length(r) - 2), '⟩⟨')) AS BIGINT) AS n_tokens
       |  FROM r$merges),
       |j AS (
       |  SELECT d.lang, tokc.n_tokens,
       |         CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes
       |  FROM tokc JOIN documents d USING (doc_id))
       |SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       |       CASE WHEN SUM(n_bytes) = 0 THEN NULL
       |            ELSE CAST((1000000 * SUM(n_tokens)) // SUM(n_bytes) AS BIGINT)
       |       END AS fert_ppm
       |FROM j GROUP BY 1 ORDER BY lang""".stripMargin
  }

  /** Rolling-hash document fingerprinting (winnowing): md5 each word-`n`-gram
    * in sequence, then keep the minimum hash of every `window`-length run of
    * consecutive shingles. The distinct minima are the document's
    * fingerprints — a compact, alignment-robust signature for near-dup and
    * provenance checks at corpus scale. Narrow except one per-doc window.
    */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, windowLen: Int = 4): DataFrame = {
    val grams = docs
      .select(col(idCol), tokens(col(textCol)).as("w"), lower(col(textCol)).as("norm"))
      .filter(size(col("w")) >= n)
      .select(
        col(idCol),
        col("norm"),
        posexplode(expr(
          s"transform(sequence(0, size(w) - $n), i -> " +
            (0 until n).map(j => s"w[i + $j]").mkString("concat_ws(' ', ", ", ", ")") + ")"
        )).as(Seq("pos", "gram")))
      .select(col(idCol), col("norm"), col("pos"), md5(col("gram")).as("h"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, windowLen - 1)
    grams
      .withColumn("win_min", min(col("h")).over(w))
      .groupBy(col(idCol))
      .agg(
        countDistinct(col("win_min")).as("n_fingerprints"),
        min(col("win_min")).as("min_fingerprint"),
        md5(min(col("norm"))).as("doc_md5"))
  }

  /** C4-style line filtering (Raffel et al. 2020 §2.2's cleaning rules,
    * the boilerplate-removal step of a web-scale corpus): split the
    * document into lines, keep only lines that end in terminal punctuation
    * AND carry at least `minWords` words, and drop documents left with
    * fewer than `minLines` surviving lines. Navigation menus, cookie
    * banners, and footer fragments are short and unpunctuated — the two
    * rules together remove most page chrome with no model in the loop.
    *
    * Emits (id, n_lines, n_kept, clean_text) for surviving documents,
    * `clean_text` = the kept lines re-joined with newlines in original
    * order. Everything is a row-local higher-order-function chain
    * (`filter` over the split array) — codegen'd, no shuffle, trivially
    * 100 TB-safe.
    */
  def c4LineFilter(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minWords: Int = 3, minLines: Int = 3): DataFrame =
    docs
      .select(col(idCol), split(col(textCol), "\n").as("lines"))
      .withColumn("kept", filter(col("lines"),
        l => l.rlike("[.!?\"]$") && size(split(l, " ")) >= minWords))
      .filter(size(col("kept")) >= minLines)
      .select(
        col(idCol),
        size(col("lines")).as("n_lines"),
        size(col("kept")).as("n_kept"),
        array_join(col("kept"), "\n").as("clean_text"))

  /** The same line-keep predicate as DuckDB SQL text (lambda form), for
    * oracle mirroring.
    */
  def c4KeepLambdaSql(minWords: Int = 3): String =
    s"l -> regexp_matches(l, '[.!?\"]$$') AND len(string_split(l, ' ')) >= $minWords"

  /** Gopher-required stopwords (Rae et al. 2021 Appendix A1.2). */
  val GopherStopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021, MassiveText
    * filtering, Appendix A1.2): word-count bounds, mean-word-length
    * bounds, symbol-to-word ratio, bullet-line and ellipsis-line
    * fractions, alphabetic-word fraction, and a required-stopword count —
    * the other public quality-rule family next to [[c4LineFilter]]'s
    * line screen (C4 judges lines, Gopher judges whole documents).
    *
    * Every rule is evaluated in INTEGER arithmetic — ratio thresholds are
    * cross-multiplied (mean word length in [3,10] is `3·n ≤ Σlen ≤ 10·n`,
    * "≤ 10% symbols" is `100·sym ≤ 10·n`), so no float ever materializes
    * and the verdicts replay bit-for-bit in any engine. Entirely
    * row-local (splits + higher-order folds): zero exchanges at any
    * corpus size.
    *
    * Emits per-rule counts plus the composite `keep`, so downstream can
    * filter on `keep` or re-threshold the counts without a second scan.
    * Words are `[ \n]`-separated non-empty runs of the lowercased text;
    * symbols are `#` and non-overlapping `...` occurrences; bullet lines
    * start `- ` or `* `; ellipsis lines end `...`.
    */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Int = 3, maxMeanWordLen: Int = 10,
      maxSymbolWordPct: Int = 10, maxBulletLinePct: Int = 90,
      maxEllipsisLinePct: Int = 30, minAlphaWordPct: Int = 80,
      minStopwordHits: Int = 2): DataFrame =
    docs
      .select(col(idCol),
        expr(s"filter(split(lower($textCol), '[ \\n]'), w -> w <> '')").as("ws"),
        split(col(textCol), "\n").as("lines"),
        col(textCol).as("txt"))
      .select(col(idCol),
        size(col("ws")).cast("long").as("n_words"),
        expr("aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc + length(w))")
          .as("sum_word_len"),
        ((length(col("txt")) - length(replace(col("txt"), lit("#"), lit("")))).cast("long") +
          ((length(col("txt")) -
            length(replace(col("txt"), lit("..."), lit("")))) / lit(3)).cast("long"))
          .as("n_symbols"),
        size(col("lines")).cast("long").as("n_lines"),
        expr("size(filter(lines, l -> l LIKE '- %' OR l LIKE '* %'))")
          .cast("long").as("n_bullet_lines"),
        expr("size(filter(lines, l -> l LIKE '%...'))")
          .cast("long").as("n_ellipsis_lines"),
        expr("size(filter(ws, w -> w rlike '[a-z]'))")
          .cast("long").as("n_alpha_words"),
        expr(s"size(filter(array(${GopherStopwords.map(w => s"'$w'").mkString(",")}), " +
          "w -> array_contains(ws, w)))").cast("long").as("stop_hits"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("sum_word_len") >= col("n_words") * minMeanWordLen &&
          col("sum_word_len") <= col("n_words") * maxMeanWordLen &&
          col("n_symbols") * 100 <= col("n_words") * maxSymbolWordPct &&
          col("n_bullet_lines") * 100 <= col("n_lines") * maxBulletLinePct &&
          col("n_ellipsis_lines") * 100 <= col("n_lines") * maxEllipsisLinePct &&
          col("n_alpha_words") * 100 >= col("n_words") * minAlphaWordPct &&
          col("stop_hits") >= minStopwordHits)

  /** Overlapping context-window chunking — the step that turns variable
    * length documents into fixed-budget training sequences (window `size`
    * tokens, stride `stride` < size ⇒ `size − stride` tokens of overlap so
    * no boundary context is lost). Window `i` of a document covers tokens
    * `[i·stride, i·stride + size)`; windows start while `i·stride < n`, so
    * every token lands in ≥ 1 window and the final window may be short.
    *
    * Emits (id, win_id, win_tokens, first_tok, last_tok) — the count and
    * boundary tokens identify the chunk without duplicating its text
    * through the pipeline (the caller slices the real payload by
    * `win_id·stride` when materializing). Row-local generate + explode:
    * the only cost is the output's own size, the unavoidable ~size/stride
    * duplication factor of overlapped chunking. No shuffle.
    */
  def chunkWindows(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", winSize: Int = 50, stride: Int = 40): DataFrame = {
    require(winSize >= 1 && stride >= 1 && stride <= winSize,
      s"need 1 <= stride <= winSize, got winSize=$winSize stride=$stride")
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        size(col("toks")).cast("long").as("n_toks"))
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0L),
          floor((col("n_toks") - 1L) / stride).cast("long"))).as("win_id"))
      .select(
        col(idCol),
        col("win_id"),
        slice(col("toks"), (col("win_id") * stride + 1L).cast("int"), lit(winSize))
          .as("win"))
      .select(
        col(idCol),
        col("win_id"),
        size(col("win")).as("win_tokens"),
        element_at(col("win"), 1).as("first_tok"),
        element_at(col("win"), -1).as("last_tok"))
  }

  /** BM25 retrieval (Robertson–Walker Okapi form): top-k documents per
    * query under score(q,d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b +
    * b·dl/avgdl)), idf(t) = ln(1 + (N−df+0.5)/(df+0.5)) — the search-side
    * complement of the ANN family (exact lexical retrieval over the same
    * corpus the embedding queries cover semantically).
    *
    * Scale shape — the corpus NEVER shuffles on anything but pruned
    * candidates: the token explode is pruned by a broadcast semi-join on
    * the query-term set BEFORE any aggregation, so the only exchanges are
    * over candidate postings (bounded by Σ_t df(t) of the query terms, not
    * corpus size); per-term document frequencies over those candidates are
    * a tiny aggregate broadcast back; corpus N/avgdl ride as a broadcast
    * 1-row frame; the final top-k runs through the custom [[graft.plans.TopK]]
    * physical operator (bounded per-query heaps, no per-query sort).
    *
    * Cross-engine determinism (same discipline as [[lmScore]]): the only
    * libm call (ln) is rounded to 6 dp per term, each term's contribution
    * is rounded to 6 dp, contributions decimal-sum, and every double
    * expression is written in the identical association order the oracle
    * uses.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "query_id", qtextCol: String = "q_text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs
      .select(col(idCol), tokens(col(textCol)).as("w"))
      .select(col(idCol), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(tokens(col(qtextCol)))).as("term"))
    val qset = qterms.select(col("term")).distinct()
    // prune the exploded corpus to query terms BEFORE aggregating — the
    // broadcast semi-join is the inverted-index probe, done narrow
    val postings = toks.join(broadcast(qset), Seq("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs
      .select(size(tokens(col(textCol))).cast("long").as("d"))
      .agg(count(lit(1)).as("n_docs"), sum(col("d")).as("total_dl"))
    val contrib = postings
      .join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .join(broadcast(qterms), Seq("term"))
      .select(col(qidCol), col(idCol),
        round(
          round(log(lit(1.0) +
            (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 6) *
          (col("tf").cast("double") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * col("dl") / (col("total_dl").cast("double") / col("n_docs")))),
          6).as("c"))
    import org.apache.spark.sql.types.DecimalType
    val scored = contrib
      .groupBy(col(qidCol), col(idCol))
      .agg(round(sum(col("c").cast(DecimalType(28, 12))).cast("double"), 6).as("score"))
    graft.plans.TopK.perKey(scored, keyCols = Seq(qidCol),
      orderCols = Seq("score" -> false, idCol -> true), k = k)
  }

  /** Retrieval-quality evaluation — the scorecard every ranking change
    * ([[bm25TopK]] parameter, fusion weight, index swap) must pass
    * before shipping: per query, MRR and precision/recall@k of a ranked
    * result list against a relevance set, kept integer-exact
    * (`mrr_ppm = 10⁶ DIV first_rel_rank`, the reciprocal-rank fusion
    * integer discipline — no float crosses the gate; nDCG's log₂ is
    * deliberately NOT emitted for that reason).
    *
    * `results` is (query, doc, rank) with 1-based ranks; `qrels` is the
    * (query, doc) relevant set. Queries appear if they have results OR
    * relevance rows (full outer), so "relevant docs exist but none
    * retrieved" reads as recall 0 — the failure this audit exists to
    * catch — rather than vanishing.
    *
    * Scale shape: one keyed left join (results × qrels — both bounded
    * by k·|queries| and the relevance set, never the corpus) and two
    * map-side-combined keyed aggs; no window, no driver decision.
    */
  def retrievalEval(results: DataFrame, qrels: DataFrame, k: Int,
      qidCol: String = "query_id", docCol: String = "doc_id",
      rankCol: String = "rnk"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rel = qrels.select(col(qidCol), col(docCol)).distinct()
    val nRel = rel.groupBy(col(qidCol)).agg(count(lit(1)).as("n_rel"))
    val marked = results
      .select(col(qidCol), col(docCol), col(rankCol).cast("long").as("rnk"))
      .join(rel.withColumn("is_rel", lit(1L)), Seq(qidCol, docCol), "left")
      .withColumn("is_rel", coalesce(col("is_rel"), lit(0L)))
    val perQ = marked.groupBy(col(qidCol)).agg(
      count(lit(1)).as("n_results"),
      min(when(col("is_rel") === 1L, col("rnk"))).as("first_rel_rank"),
      sum(when(col("is_rel") === 1L && col("rnk") <= k, 1L).otherwise(0L))
        .as("hits_at_k"))
    nRel.join(perQ, Seq(qidCol), "full_outer")
      .select(col(qidCol),
        coalesce(col("n_results"), lit(0L)).as("n_results"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("first_rel_rank"),
        when(col("first_rel_rank").isNotNull,
          expr("1000000 DIV first_rel_rank")).as("mrr_ppm"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        expr(s"(1000000 * coalesce(hits_at_k, 0L)) DIV $k")
          .as("precision_at_k_ppm"),
        when(coalesce(col("n_rel"), lit(0L)) > 0L,
          expr("(1000000 * coalesce(hits_at_k, 0)) DIV n_rel"))
          .as("recall_at_k_ppm"))
  }

  /** Tokenizer-vocabulary coverage audit — the pre-training read that
    * prices a vocabulary against a corpus (Rust et al. 2021 on tokenizer
    * fit): per source, how many tokens fall OUTSIDE the vocab (`oov_ppm`
    * — each becomes an UNK or a byte-fallback blowup downstream) and how
    * many DISTINCT out-of-vocab terms drive it (a handful of hot terms →
    * extend the vocab; a long tail → the tokenizer is wrong for the
    * source). Run per source because coverage is a mixture property —
    * a 2% corpus-wide OOV can hide a 40% source.
    *
    * Scale shape: one token explode streamed against a BROADCAST vocab
    * (vocabularies are bounded by contract — 10⁴-10⁶ terms), one
    * map-side-combined source agg. The distinct-OOV count rides the
    * same agg as a countDistinct (partial aggregation applies); no
    * second scan.
    */
  def vocabCoverage(docs: DataFrame, vocab: DataFrame,
      srcCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text", termCol: String = "term"): DataFrame = {
    val toks = docs.select(col(srcCol).as("source"), col(idCol).as("id"),
      explode(tokens(col(textCol))).as("term"))
    val v = vocab.select(col(termCol).as("term")).distinct()
      .withColumn("in_vocab", lit(1L))
    toks.join(broadcast(v), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(
        countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
        countDistinct(when(col("in_vocab").isNull, col("term")))
          .as("n_oov_terms"))
      .withColumn("oov_ppm", expr("(1000000 * n_oov) DIV n_tokens"))
  }

  /** Exact-PHRASE retrieval — the positional complement of [[bm25TopK]]'s
    * bag-of-words scoring (quoted-phrase search, boilerplate locating,
    * contamination forensics all need CONSECUTIVE terms, which tf×idf
    * structurally cannot express): top-k documents per query by exact
    * occurrence count of the query's token sequence, ties broken by doc
    * id. A phrase of length m occurs at position i iff the document's
    * m-gram at i equals it, so matching is m-gram equality — the
    * [[shingles]] positional-postings idea, kept NON-distinct because
    * occurrences are the ranking signal.
    *
    * Scale shape: the only driver decision is the distinct phrase
    * LENGTHS present (a query set is small by contract — bounded
    * O(#lengths), never corpus data); the corpus streams once per
    * length as a narrow gram explode, the query join is broadcast (no
    * corpus exchange), and the only shuffle is the (query, doc) HIT
    * aggregation — bounded by actual matches, not corpus size. The
    * final cut runs through the custom [[graft.plans.TopK]] operator.
    * Queries whose phrase never occurs emit no rows (exact semantics,
    * same contract as an empty posting list).
    *
    * Occurrence counts are integers end to end — nothing to fence.
    */
  def phraseTopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "query_id", qtextCol: String = "q_text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = queries.select(col(qidCol),
      array_join(tokens(col(qtextCol)), " ").as("phrase"),
      size(tokens(col(qtextCol))).as("m"))
    val ms = q.select(col("m")).distinct().collect().map(_.getInt(0)).sorted
    require(ms.nonEmpty && ms.head >= 1, s"queries must carry >= 1 token: $ms")
    val grams = ms.map { m =>
      docs.select(col(idCol), tokens(col(textCol)).as("w"))
        .filter(size(col("w")) >= m)
        .select(col(idCol),
          explode(expr(
            s"transform(sequence(1, size(w) - ${m - 1}), " +
              s"i -> array_join(slice(w, i, $m), ' '))"))
            .as("phrase"))
    }.reduce(_ unionAll _)
    val hits = grams.join(broadcast(q.select(col(qidCol), col("phrase"))), Seq("phrase"))
      .groupBy(col(qidCol), col(idCol))
      .agg(count(lit(1)).as("n_occurrences"))
    graft.plans.TopK.perKey(hits, keyCols = Seq(qidCol),
      orderCols = Seq("n_occurrences" -> false, idCol -> true), k = k)
  }

  /** Reciprocal-rank fusion (RRF, Cormack et al.'s 1/(k0+rank) form) —
    * the standard hybrid-retrieval combiner: N ranked candidate lists for
    * the same query set (e.g. [[bm25TopK]] lexical ∪ an ANN semantic
    * top-k over id-aligned embeddings) fuse into one ranking, rewarding
    * documents that rank well in ANY list without comparing incomparable
    * scores. Each input frame carries (`qidCol`, `idCol`, `rankCol`) with
    * rank 1-based; a document's fused score is Σ_lists ⌊10⁹/(k0+rank)⌋.
    *
    * Scale shape: every input list is already top-k-bounded PER QUERY
    * (that is what a retrieval stage emits), so the union + fuse moves at
    * most queries × k × lists rows — the fusion cost is independent of
    * corpus size, and the one exchange is on (query, doc) over that
    * bounded candidate set. The final cut runs through the custom
    * [[graft.plans.TopK]] operator (bounded heaps, no per-query sort).
    *
    * Cross-engine determinism: the reciprocal is INTEGER — `10⁹ div
    * (k0+r)` per contribution (integral `div`, no float anywhere), summed
    * as BIGINT, ties broken by id ascending. `n_lists` counts how many
    * lists surfaced the doc (the agreement diagnostic hybrid evaluations
    * report).
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int = 10, k0: Int = 60,
      qidCol: String = "query_id", idCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: need at least one ranked list")
    require(k >= 1 && k0 >= 0, s"need k >= 1, k0 >= 0, got k=$k k0=$k0")
    val normalized = lists.map(_.select(
      col(qidCol), col(idCol),
      (lit(k0.toLong) + col(rankCol).cast("long")).as("d"))
      .select(col(qidCol), col(idCol), expr("1000000000L div d").as("c")))
    val fused = normalized.reduce(_ unionAll _)
      .groupBy(col(qidCol), col(idCol))
      .agg(sum(col("c")).as("rrf_ppb"), count(lit(1)).as("n_lists"))
    graft.plans.TopK.perKey(fused, keyCols = Seq(qidCol),
      orderCols = Seq("rrf_ppb" -> false, idCol -> true), k = k)
  }

  /** The md5 feature-hash bucket shared by [[perceptronQuality]] and its
    * oracle (the hashing trick: term → one of `dims` integer buckets, same
    * 4-hex discipline as `Splits.packShardSql`).
    */
  def featureBucketSql(termExpr: String, dims: Int): String =
    s"CAST(('0x'||substring(md5($termExpr),1,4)) AS BIGINT) % $dims"

  private def featureBucket(term: Column, dims: Int): Column =
    conv(substring(md5(term), 1, 4), 16, 10).cast("long") % dims

  /** Model-in-the-loop quality filtering: a distributed batch perceptron
    * over hashed bag-of-words features (the hashing trick, `dims` integer
    * buckets) — the shape of a fastText-style linear quality classifier,
    * in arithmetic every engine reproduces bit-for-bit. All features,
    * weights, margins, and updates are INTEGERS: no learning rate, no
    * float dot products, no platform-dependent math anywhere.
    *
    * Batch (not online) perceptron: epoch e scores every labeled doc with
    * the current weights (margin_i = Σ_b w(b)·cnt_{i,b} + bias), then adds
    * Σ over misclassified docs (label·margin ≤ 0) of label·x_i to the
    * weights and Σ label to the bias. The per-epoch weight delta is one
    * distributed aggregation; only the `dims`-row delta crosses to the
    * driver (the update IS the algorithm's global decision — the Lloyd's /
    * BPE pattern). Batch summation makes the result independent of row
    * order and partitioning — a prerequisite for cross-engine replay.
    *
    * Returns per-doc (id, label, margin, correct) under the FINAL weights —
    * the trained filter applied back to its corpus.
    *
    * Epoch shape: the bucket counts are pre-aggregated ONCE into a
    * per-doc `(bucket, cnt)` array (bounded by `dims` entries — 64
    * longs-pairs per doc at the default — so the array is a fixed-size
    * payload at any corpus scale) and persisted across epochs. Each
    * epoch is then ONE job over that cached frame: the margin is a
    * row-local integer fold over the array (weights ride as a literal
    * map inside the expression — zero joins), the misclassified docs
    * explode their arrays (plus a sentinel bucket −1 element carrying
    * the bias delta), and the only exchange is the map-side-combined
    * ≤ dims+1-row bucket aggregation to the driver. The earlier form
    * paid a doc-keyed margin exchange PLUS a features-to-misclassified
    * join per epoch; integer addition is associative-commutative, so
    * the fold order change is value-identical and the oracle replays
    * unchanged.
    *
    * Labels MUST be exactly −1 or +1: the misclassification predicate
    * (label·margin ≤ 0) counts a 0-label as always wrong while its weight
    * delta (label·x) contributes nothing — training would silently no-op
    * for those rows. Any other value raises a plan-side error.
    */
  def perceptronQuality(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", labelCol: Column,
      dims: Int = 64, epochs: Int = 3): DataFrame = {
    require(dims >= 1 && epochs >= 1, s"need dims/epochs >= 1, got $dims/$epochs")
    val lbl = labelCol.cast("long")
    val checkedLabel = when(lbl === 1L || lbl === -1L, lbl)
      .otherwise(raise_error(concat(
        lit("perceptronQuality: label must be -1 or 1, got "),
        coalesce(lbl.cast("string"), lit("NULL")))))
    // guarded scan-spread: the tokenize + feature-hash explode feeding
    // the first aggregation ran one task on the unsplittable bench
    // fixture (identity at real scale — see
    // [[graft.operators.Dedup.spreadNarrowScan]])
    val feats = graft.operators.Dedup.spreadNarrowScan(docs, col(idCol))
      .select(col(idCol), checkedLabel.as("label"),
        explode(tokens(col(textCol))).as("term"))
      .select(col(idCol), col("label"),
        featureBucket(col("term"), dims).as("bucket"))
      .groupBy(col(idCol), col("label"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol), col("label"))
      .agg(collect_list(struct(col("bucket"), col("cnt"))).as("bc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var w = Map.empty[Long, Long].withDefaultValue(0L)
      var bias = 0L
      // the margin is a row-local integer fold over the ≤ dims-entry
      // array; weights ride as a literal map (≤ dims entries) inside
      // the expression — zero joins, zero exchanges. collect_list's
      // element order is partition-dependent, but integer addition is
      // order-free, so the fold is deterministic regardless.
      def marginCol: Column =
        if (w.isEmpty) lit(bias)
        else {
          val wMap =
            map(w.toSeq.flatMap { case (b, v) => Seq(lit(b), lit(v)) }: _*)
          aggregate(col("bc"), lit(bias), (acc, x) =>
            acc + coalesce(element_at(wMap, x.getField("bucket")), lit(0L)) *
              x.getField("cnt"))
        }
      for (_ <- 1 to epochs) {
        // ONE action per epoch, one tiny exchange: misclassified docs
        // explode their arrays with a sentinel bucket −1 element
        // appended (carrying Σ label — the bias delta), and the
        // map-side-combined bucket agg ships ≤ dims+1 rows to the
        // driver. Arithmetic is unchanged integer addition, so margins
        // stay oracle-exact.
        val deltas = feats
          .filter(col("label") * marginCol <= 0)
          .select(col("label"), explode(concat(col("bc"),
            array(struct(lit(-1L).as("bucket"), lit(1L).as("cnt"))))).as("x"))
          .select(col("x.bucket").as("bucket"),
            (col("label") * col("x.cnt")).as("c"))
          .groupBy(col("bucket"))
          .agg(sum(col("c")).as("dw"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        w = deltas.filter(_._1 >= 0L)
          .foldLeft(w) { case (m, (b, dw)) => m.updated(b, m(b) + dw) }
        bias += deltas.collectFirst { case (-1L, dw) => dw }.getOrElse(0L)
      }
      feats.select(col(idCol), col("label"), marginCol.as("margin"))
        .select(col(idCol), col("label"), col("margin"),
          (col("label") * col("margin") > 0).as("correct"))
    } finally feats.unpersist(blocking = false)
  }

  /** One Misra–Gries pass (Misra & Gries 1982, "Finding repeated
    * elements"): at most `k` counters, decrement-all on overflow.
    * Guarantee used by [[heavyHitters]]: every item with frequency
    * > n/(k+1) in the stream survives with a positive counter (each
    * decrement round removes k+1 occurrences — one per live counter plus
    * the arriving item — so at most n/(k+1) rounds happen, and an item's
    * counter absorbs at most that many decrements). Amortized O(1) per
    * element: the total decrement work is bounded by elements inserted.
    */
  private[graft] def misraGries(it: Iterator[String], k: Int): collection.Map[String, Long] = {
    val counters = collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val t = it.next()
      counters.get(t) match {
        case Some(c) => counters.update(t, c + 1)
        case None if counters.size < k => counters.update(t, 1L)
        case None =>
          // decrement-all; O(k) but at most once per k+1 arrivals overall
          val dead = collection.mutable.ArrayBuffer.empty[String]
          counters.foreach { case (w, c) =>
            if (c == 1L) dead += w else counters.update(w, c - 1) }
          dead.foreach(counters.remove)
      }
    }
    counters
  }

  /** Corpus heavy hitters — every token with frequency ≥ n_total/`s` —
    * via the two-pass Misra–Gries pattern (candidates, then exact
    * recount).
    *
    * Why not a plain `groupBy(token).count().filter(...)`: that plan's
    * hash-aggregation state and exchange volume grow with DISTINCT-token
    * cardinality — on web-scale text the keyspace is unique-heavy (URLs,
    * ids, typos), so the exact plan builds billions of singleton counters
    * and shuffles all of them to answer a question whose output is at most
    * `s` rows. Here pass 1 holds ≤ `s` counters per task regardless of
    * cardinality (the same state-bounding argument as
    * [[cmsTokenEstimates]], but with a DETERMINISTIC superset guarantee
    * instead of probabilistic estimates), and pass 2's aggregation keyspace
    * is the candidate set (≤ `s` × tasks before distinct, ≤ `s` distinct
    * survivors possible in the output).
    *
    * Correctness does not depend on partitioning or MG internals: the
    * merged global summary retains every token with freq > n/(s+1) (the
    * mergeable-summaries bound — [[graft.functions.MisraGriesAgg]]), so
    * every freq ≥ n/s token is a candidate; pass 2 recounts candidates
    * EXACTLY and applies the threshold, so the emitted set is exactly the
    * tokens with freq ≥ n/s — deterministic, partitioning-independent,
    * and equal to what the brute-force oracle computes. `share_ppm` is
    * integer floor division (engine-portable).
    *
    * The candidate pass is the [[graft.functions.MisraGriesAgg]]
    * `TypedImperativeAggregate` — one `agg` whose partials are ≤ s
    * entries per task and whose exchange carries one serialized buffer
    * per partial (the sketch shape; round 11 upgraded this from a
    * `mapPartitions` pass, removing the object-serde hop and the
    * per-partition candidate union/distinct). Scale shape: two scans of
    * the token stream (recount is a broadcast semi-join against the ≤ s
    * exploded candidates into a map-side-combined agg over a
    * candidate-sized keyspace), one scan for the n_total scalar; no
    * exchange ever carries more than candidate-set-sized data.
    */
  def heavyHitters(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", s: Int = 200): DataFrame = {
    require(s >= 2, s"support denominator must be >= 2: $s")
    val tok = docs.select(explode(tokens(col(textCol))).as("token"))
    val cand = tok
      .agg(graft.functions.MisraGriesSketch(col("token"), s).as("mg"))
      .select(explode(col("mg")).as("c"))
      .select(col("c.token").as("token"))
    val tot = tok.agg(count(lit(1)).as("n_total"))
    tok.join(broadcast(cand), Seq("token"), "left_semi")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(tot))
      .filter(col("n_occurrences") * s >= col("n_total"))
      .select(col("token"), col("n_occurrences"),
        expr("CAST((n_occurrences * 1000000) DIV n_total AS BIGINT)").as("share_ppm"))
      .orderBy(col("n_occurrences").desc, col("token"))
  }

  /** Readability scoring — the Flesch reading-ease formula (Flesch 1948;
    * public psycholinguistics) in ALL-INTEGER milli-point arithmetic:
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)` scaled
    * ×1000 with floor-divs, so the score is a pure int64 function of
    * three row-local counts. Syllables are the standard vowel-group
    * heuristic (runs of `[aeiouy]+` per token); sentences count
    * terminal punctuation with a floor of 1. Training pipelines use the
    * band as a quality/audience feature next to [[qualityScore]] —
    * wildly negative scores flag run-on garbage, very high ones flag
    * telegraphic fragments. Entirely row-local: zero exchanges.
    */
  def readability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lower = org.apache.spark.sql.functions.lower(col(textCol))
    val words = greatest(size(split(lower, " ")).cast("long"), lit(1L))
    val sentences = greatest(
      size(regexp_extract_all(lower, lit("[.!?]"), lit(0))).cast("long"), lit(1L))
    val syllables = size(regexp_extract_all(lower, lit("[aeiouy]+"), lit(0)))
      .cast("long")
    docs.select(col(idCol),
      words.as("n_words"), sentences.as("n_sentences"),
      syllables.as("n_syllables"))
      .withColumn("flesch_m3",
        lit(206835L) - expr("(1015 * n_words) DIV n_sentences") -
          expr("(84600 * n_syllables) DIV n_words"))
  }

  /** Zipf's-law fit over the corpus token-frequency distribution (Zipf
    * 1949; the log–log rank-frequency regression every corpus datasheet
    * reports): slope ≈ −1 signals natural language, a flat slope signals
    * boilerplate/templated text, a cliff signals truncated vocabularies.
    * Fits ln(freq) = intercept + slope·ln(rank) by least squares over the
    * top `topN` tokens.
    *
    * Shape: ONE map-side-combined token count over the corpus, then a
    * `topN`-row take-ordered head — the bounded global-decision pattern
    * (the regression itself runs on ≤ topN rows; ranks come from a
    * window over that bounded set, never over the corpus). Determinism:
    * ln inputs are exact integers (rank, count), each ln is rounded to 8
    * before use, products to 12, and all four regression sums run in
    * DECIMAL(38,12) — exact and order-free — with the final
    * slope/intercept division as fixed-order double ops rounded to 6
    * (the [[Graph.pageRank]] fencing discipline).
    */
  def zipfFit(docs: DataFrame, textCol: String = "text",
      topN: Int = 500): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(topN >= 2, s"topN must be >= 2: $topN")
    val top = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(topN)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("w"))).cast("long"))
    val xy = ranked.select(
      round(log(col("rank").cast("double")), 8).as("x"),
      round(log(col("c").cast("double")), 8).as("y"))
    val dec = DecimalType(38, 12)
    val sums = xy.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum(round(col("x") * col("y"), 12).cast(dec)).as("sxy"),
      sum(round(col("x") * col("x"), 12).cast(dec)).as("sxx"))
    sums.select(
      col("n").as("n_top"),
      round((col("n").cast("double") * col("sxy").cast("double") -
             col("sx").cast("double") * col("sy").cast("double")) /
            (col("n").cast("double") * col("sxx").cast("double") -
             col("sx").cast("double") * col("sx").cast("double")), 6)
        .as("slope"),
      round((col("sy").cast("double") -
             round((col("n").cast("double") * col("sxy").cast("double") -
                    col("sx").cast("double") * col("sy").cast("double")) /
                   (col("n").cast("double") * col("sxx").cast("double") -
                    col("sx").cast("double") * col("sx").cast("double")), 6) *
             col("sx").cast("double")) / col("n").cast("double"), 6)
        .as("intercept"))
  }

  /** Heaps-law vocabulary-growth curve (Heaps 1978; Herdan 1960) —
    * [[zipfFit]]'s companion scaling law and the "how much NEW text is
    * left in this source" read: vocabulary grows as V(N) ≈ K·N^β
    * (β ≈ 0.4–0.6 for natural language), so a source whose β collapses
    * is recycling itself (template/boilerplate farms) and the fitted
    * curve extrapolates dedup yield before you crawl more of it.
    *
    * Sampling is md5-prefix NESTED (the [[graft.operators.Splits]]
    * bucket discipline): the 8 growth points are doc-bucket prefixes
    * k ∈ {2,4,…,256}/256, so each sample contains the previous one —
    * a growth CURVE, not 8 independent samples. The whole curve costs
    * ONE token pass: per token its MINIMUM doc bucket (first prefix
    * that contains it — V(k) = #{tokens: mb < k} by nesting), per
    * bucket its token mass (N(k) = prefix-sum) — both fold to ≤256-row
    * frames, then everything is broadcast arithmetic. β is the log-log
    * OLS slope over the 8 points with each ln pre-quantized to integer
    * micro-units (the psi ln-fence: quantize before accumulating so
    * last-ulp libm differences cannot cross the gate), and the fit
    * itself is exact integer arithmetic ending in one ppm division.
    *
    * Reference scope note: no counterpart in the reference engine
    * (SUM/COUNT rollups only, `handler.go:139-153`); extension-mandate.
    */
  def vocabGrowth(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val perDoc = docs.select(
      expr(s"CAST(CONV(substring(md5(CAST($idCol AS STRING)), 1, 2), 16, 10)" +
        " AS BIGINT)").as("bkt"),
      tokens(col(textCol)).as("toks"))
    val byBkt = perDoc
      .select(col("bkt"), size(col("toks")).cast("long").as("nt"))
      .groupBy(col("bkt")).agg(sum(col("nt")).as("nt"))
    val mbCnt = perDoc.select(col("bkt"), explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(min(col("bkt")).as("mb"))
      .groupBy(col("mb")).agg(count(lit(1)).as("nv"))
    val ks = docs.sparkSession.range(1, 9)
      .select(expr("CAST(shiftleft(1, CAST(id AS INT)) AS BIGINT)").as("k"))
    val pts = ks
      .join(broadcast(byBkt), col("bkt") < col("k"), "left")
      .groupBy(col("k")).agg(coalesce(sum(col("nt")), lit(0L)).as("n_tokens"))
      .join(ks.join(broadcast(mbCnt), col("mb") < col("k"), "left")
        .groupBy(col("k")).agg(coalesce(sum(col("nv")), lit(0L)).as("vocab")),
        Seq("k"))
    val lp = pts.filter(col("n_tokens") > 0L && col("vocab") > 0L)
      .select(
        expr("CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)) * 1000000, 0) AS BIGINT)")
          .as("x"),
        expr("CAST(ROUND(ln(CAST(vocab AS DOUBLE)) * 1000000, 0) AS BIGINT)")
          .as("y"))
    val fit = lp
      .agg(count(lit(1)).as("p"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(
        (col("p") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("p") * col("sxx") - col("sx") * col("sx")).as("den"),
        col("p"))
      .select(when(col("p") >= 2L && col("den") > 0L,
        signum(col("num")).cast("long") * expr(
          "(CAST(1000000 AS DECIMAL(38,0)) * abs(CAST(num AS DECIMAL(38,0))))" +
            " div den")).as("beta_ppm"))
    pts.crossJoin(broadcast(fit))
      .select(col("k").as("k_num"), col("n_tokens"), col("vocab"),
        col("beta_ppm"))
  }
}
