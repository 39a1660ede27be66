package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.NfcNormalize

/** Crawl-side text hygiene — the stages a crawl-to-corpus pipeline
  * runs BEFORE the quality/PII/dedup stack (§2.51–§2.52): HTML/markup
  * extraction, Unicode NFC normalization, encoding (mojibake) repair,
  * URL canonicalization + URL-keyed dedup, and boilerplate-line
  * removal. Every transform is a row-local fused expression chain
  * (zero shuffle at any scale) except boilerplate detection, whose
  * line-frequency relation is |distinct lines|-sized — the C4/CCNet
  * line-dedup shape.
  *
  * The synthetic documents are clean, so each oracle query injects its
  * dirt ARITHMETICALLY from doc_id (the PII-fixture precedent,
  * Pipelines.piiDirtyText): both engines see the identical bytes, so
  * counts AND rewritten-text fingerprints hash-pin the transforms.
  * The Curation faces below share these exact expression chains with
  * the oracle queries, so stage and census cannot drift.
  */
object Crawl {

  // ---------------------------------------------------------------
  // shared transform faces (the oracle queries AND Curation use these)
  // ---------------------------------------------------------------

  /** HTML → text: strip script/style/comment blocks, then all tags,
    * decode the common entities (&amp; LAST, the standard order that
    * never double-decodes), collapse whitespace, trim. Pure fused
    * regexp chain — Java and RE2 agree on this pattern subset
    * ((?s)-dotall, non-greedy, character classes; no backrefs). */
  def extractHtmlText(c: Column): Column = {
    val stripped = Seq(
      "(?s)<script[^>]*>.*?</script>" -> " ",
      "(?s)<style[^>]*>.*?</style>" -> " ",
      "(?s)<!--.*?-->" -> " ",
      "<[^>]*>" -> " ",
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&copy;" -> "(c)", "&amp;" -> "&")
      .foldLeft(c) { case (acc, (p, r)) =>
        regexp_replace(acc, lit(p), lit(r))
      }
    trim(regexp_replace(stripped, lit("\\s+"), lit(" ")))
  }

  /** Unicode NFC normalization (codegen'd NfcNormalize expression). */
  def nfcText(spark: SparkSession, c: Column): Column = NfcNormalize.nfc(spark, c)

  /** Unicode NFKC compatibility normalization (same codegen'd
    * expression, form="NFKC"): folds fullwidth forms, ligatures and
    * compatibility signs INTO their plain twins — the normalization
    * dedup keys and token stats need on multilingual crawl data, where
    * NFC alone leaves Ａ/A and ﬁ/fi distinct. */
  def nfkcText(spark: SparkSession, c: Column): Column = NfcNormalize.nfkc(spark, c)

  /** Mojibake pairs repaired by [[repairEncoding]]: UTF-8 bytes read
    * back as Latin-1/cp1252 — the classic double-encoding accidents
    * (Ã© = é, â€™ = ’, …). Literal replaces only, so the chain is
    * engine-identical; ordered multi-byte-first so a repaired prefix
    * can never orphan a suffix. */
  private[graft] val mojibakePairs: Seq[(String, String)] = Seq(
    "\u00e2\u20ac\u2122" -> "\u2019", // a-circ euro tm  -> right single quote
    "\u00e2\u20ac\u0153" -> "\u201c", // a-circ euro oe  -> left double quote
    "\u00e2\u20ac\u00a6" -> "\u2026", // a-circ euro brokenbar -> ellipsis
    "\u00c3\u00a9" -> "\u00e9", // A-tilde copyright -> e-acute
    "\u00c3\u00a8" -> "\u00e8", // -> e-grave
    "\u00c3\u00af" -> "\u00ef", // -> i-diaeresis
    "\u00c3\u00a7" -> "\u00e7") // -> c-cedilla

  /** Encoding repair: the mojibake replace chain, row-local. The bad
    * sequences contain no regex metacharacters, so the same literals
    * drive regexp_replace in both engines. */
  def repairEncoding(c: Column): Column =
    mojibakePairs.foldLeft(c) { case (acc, (bad, good)) =>
      regexp_replace(acc, lit(bad), lit(good))
    }

  /** URL canonicalization — the standard pre-key for crawl exact-dedup:
    * scheme + host case-folded, tracking params (utm_*, ref=) stripped,
    * surviving query params sorted, fragmentless reassembly. Pure
    * string/array expressions (regexp_extract + split + filter +
    * array_sort), row-local. */
  def canonicalizeUrl(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z]+)://", 1))
    val host = lower(regexp_extract(u, "^[A-Za-z]+://([^/?]+)", 1))
    val path = regexp_extract(u, "^[A-Za-z]+://[^/?]+([^?]*)", 1)
    val params = filter(split(regexp_extract(u, "\\?(.*)$", 1), "&"),
      x => !x.startsWith("utm_") && !x.startsWith("ref=") && x =!= "")
    val query = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(length(query) > 0, concat(lit("?"), query)).otherwise(lit("")))
  }

  /** A document's URL-dedup key: the MINIMUM canonicalized URL its
    * text carries (NULL when it has none) — shared by
    * [[Curation.urlDedup]] and [[IncrementalUrlDedup]] so the batch
    * stage and the incremental state can never drift. Row-local. */
  def urlKeyOf(textCol: Column): Column =
    array_min(transform(
      regexp_extract_all(textCol, lit("[A-Za-z]+://[^ ]+"), lit(0)),
      u => canonicalizeUrl(u)))

  // ---------------------------------------------------------------
  // deterministic dirty fixtures (doc_id arithmetic; PII precedent)
  // ---------------------------------------------------------------

  /** Tagged-markup fixture: title/style/h1/script/comment/footer
    * chrome wrapped around the real text; moduli 4/3/5/7 give docs
    * 0–4 chrome kinds, and the footer exercises entity decoding. */
  private[graft] def htmlDirtyText: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id"), lit("</title>"),
    when(col("doc_id") % 4 === 0,
      concat(lit("<style>p{color:#"), col("doc_id") % 999,
        lit("}</style>"))).otherwise(lit("")),
    lit("</head><body>"),
    when(col("doc_id") % 3 === 0,
      concat(lit("<h1>Section "), col("doc_id") % 50,
        lit("</h1>"))).otherwise(lit("")),
    lit("<p>"), col("text"), lit("</p>"),
    when(col("doc_id") % 5 === 0,
      concat(lit("<script>var x="), col("doc_id"),
        lit(";\nlog(x)</script>"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      concat(lit("<!-- crawl "), col("doc_id"),
        lit("\nnote -->"))).otherwise(lit("")),
    lit("<div class=\"footer\">&copy; site "), col("doc_id") % 20,
    lit(" &amp; co &lt;info&gt;</div></body></html>"))

  /** Mixed-normalization fixture: NFD sequences (combining marks) on
    * %4 docs, the NFC twins on %6, ring/diaeresis NFD on %9. */
  private[graft] def unicodeDirtyText: Column = concat(col("text"),
    when(col("doc_id") % 4 === 0, // NFD: base letters + combining marks
      lit(" cafe\u0301 touche\u0301 de\u0301ja\u0300")).otherwise(lit("")),
    when(col("doc_id") % 6 === 0, // NFC twins of the same words
      lit(" caf\u00e9 d\u00e9j\u00e0 vu")).otherwise(lit("")),
    when(col("doc_id") % 9 === 0, // NFD ring + diaeresis
      lit(" A\u030angstro\u0308m unit")).otherwise(lit("")))

  /** Mixed-compatibility fixture: fullwidth letters/digits + the
    * ideographic space (%4 — the dominant CJK-crawl twins), Latin
    * ligatures (%6), and compatibility signs plus one NFD straggler
    * (%9 — NFKC must also compose what NFC would). All escapes, per
    * the fixture discipline. */
  private[graft] def nfkcDirtyText: Column = concat(col("text"),
    when(col("doc_id") % 4 === 0, // fullwidth Width-56 ok + U+3000
      lit(" \uFF37\uFF49\uFF44\uFF54\uFF48\uFF0D\uFF15\uFF16\u3000\uFF4F\uFF4B"))
      .otherwise(lit("")),
    when(col("doc_id") % 6 === 0, // fi / fl / ffi ligatures
      lit(" \uFB01ne \uFB02ow o\uFB03ce")).otherwise(lit("")),
    when(col("doc_id") % 9 === 0, // No4 TM 1/2 x^2 + NFD cafe
      lit(" \u2116\uFF14 \u2122 \u00BD x\u00B2 cafe\u0301"))
      .otherwise(lit("")))

  /** Mojibake fixture: UTF-8-read-as-Latin-1 accents and cp1252
    * punctuation (printable sequences only). */
  private[graft] def mojibakeDirtyText: Column = concat(col("text"),
    when(col("doc_id") % 5 === 0,
      lit(" r\u00c3\u00a9sum\u00c3\u00a9 d\u00c3\u00a9tail")).otherwise(lit("")),
    when(col("doc_id") % 8 === 0,
      lit(" it\u00e2\u20ac\u2122s \u00e2\u20ac\u0153quoted" +
        " and\u00e2\u20ac\u00a6 more")).otherwise(lit("")),
    when(col("doc_id") % 12 === 0,
      lit(" na\u00c3\u00afve fa\u00c3\u00a7ade")).otherwise(lit("")))

  /** Tracked-URL fixture: %3 docs carry an UPPER-cased, utm-tracked
    * https link whose canonical twin (%11 docs) is clean and
    * lower-cased — the same (7,5,97,50) moduli make the twins collapse
    * under canonicalization; %7 docs add an http link with a ref=
    * param and unsorted query. */
  private[graft] def urlTrackedText: Column = concat(col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" go HTTPS://CDN"), col("doc_id") % 7, lit(".Example"),
        col("doc_id") % 5, lit(".COM/item"), col("doc_id") % 97,
        lit("?utm_source=feed&id="), col("doc_id") % 50,
        lit("&utm_campaign=c"), col("doc_id") % 4, lit(" now")))
      .otherwise(lit("")),
    when(col("doc_id") % 11 === 0,
      concat(lit(" go https://cdn"), col("doc_id") % 7, lit(".example"),
        col("doc_id") % 5, lit(".com/item"), col("doc_id") % 97,
        lit("?id="), col("doc_id") % 50, lit(" now"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      concat(lit(" ref http://Blog"), col("doc_id") % 9, lit(".Sample.ORG/page"),
        col("doc_id") % 13, lit("?b="), col("doc_id") % 8,
        lit("&ref=tw&a="), col("doc_id") % 6, lit(" end"))).otherwise(lit("")))

  /** Sentencified fixture (§2.58): the corpus text re-joined with
    * deterministic index-keyed separators — terminal '!' every 17th
    * token, '.' every 7th, a comma every 5th, space otherwise — so
    * sentence-grain ops have real punctuation to read. The 1-BASED
    * index convention is pinned here: DuckDB's list_transform (x, i)
    * indexes from 1, Spark's transform from 0, so the Spark side uses
    * (i + 1) — the md5 range of the fixture itself is part of every
    * §2.58 census, pinning the alignment. */
  private[graft] def sentenceDirtyText: Column =
    rtrim(array_join(transform(split(col("text"), " "), (x, i) =>
      concat(x,
        when((i + 1) % 17 === 0, lit("! "))
          .when((i + 1) % 7 === 0, lit(". "))
          .when((i + 1) % 5 === 0, lit(", "))
          .otherwise(lit(" ")))), ""))

  /** Boilerplate fixture: ' | '-separated trailer lines — a per-source
    * copyright line on every even doc, a global subscribe line on %5,
    * and a doc-unique footnote on %7 (must NOT be flagged). */
  private[graft] def boilerplateDirtyText: Column = concat(col("text"),
    when(col("doc_id") % 2 === 0,
      concat(lit(" | Copyright site"), col("doc_id") % 20,
        lit(" all rights reserved"))).otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      lit(" | subscribe to our newsletter today")).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      concat(lit(" | unique footnote "), col("doc_id"))).otherwise(lit("")))

  // ---------------------------------------------------------------
  // §2.51 — crawl text hygiene
  // ---------------------------------------------------------------

  /** HTML/markup extraction census (§2.51): per source, the chars
    * retained by tag-stripping + entity decoding, and min/max md5 of
    * the extracted texts (pins the REWRITE, not just the arithmetic).
    * Exactness: integer char counts, one integer division, md5 over
    * identical strings. Scale: the whole chain fuses into the scan —
    * zero shuffle before the |sources| aggregate. */
  val pipelineHtmlExtract: Q = (s, d) => {
    val t = extractHtmlText(htmlDirtyText)
    table(s, d, "documents")
      .select(col("source"), length(htmlDirtyText).cast(LongType).as("cr"),
        length(t).cast(LongType).as("ct"),
        size(split(t, " ")).cast(LongType).as("nt"), md5(t).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("cr")).as("chars_raw"),
        sum(col("ct")).as("chars_text"), sum(col("nt")).as("toks"),
        min(col("fp")).as("fp_min"), max(col("fp")).as("fp_max"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("chars_raw")).as("chars_raw"),
        asLong(col("chars_text")).as("chars_text"),
        expr("(chars_text * 1000000) div chars_raw").as("retained_share_q6"),
        asLong(col("toks")).as("n_toks"),
        col("fp_min"), col("fp_max"))
      .orderBy("source")
  }

  /** Unicode NFC census (§2.51): per source, docs whose NFC form
    * differs from the raw bytes, the char mass saved by composing, and
    * min/max md5 of the NORMALIZED texts — pinning that the JDK and
    * utf8proc produce identical NFC strings. Scale: one codegen'd
    * normalize per row, fused into the scan. */
  val pipelineUnicodeCensus: Q = (s, d) => {
    val nt = nfcText(s, unicodeDirtyText)
    table(s, d, "documents")
      .select(col("source"), unicodeDirtyText.as("t"), nt.as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nt") =!= col("t"), 1L).otherwise(0L)).as("docs_denorm"),
        sum(length(col("t")).cast(LongType)).as("chars_raw"),
        sum(length(col("nt")).cast(LongType)).as("chars_nfc"),
        min(md5(col("nt"))).as("fp_min"), max(md5(col("nt"))).as("fp_max"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("docs_denorm")).as("docs_denorm"),
        asLong(col("chars_raw")).as("chars_raw"),
        asLong(col("chars_nfc")).as("chars_nfc"),
        asLong(col("chars_raw") - col("chars_nfc")).as("chars_saved"),
        col("fp_min"), col("fp_max"))
      .orderBy("source")
  }

  /** Encoding-repair census (§2.51): per source, docs carrying
    * mojibake, the char mass recovered by the repair chain, and
    * min/max md5 of the repaired texts. Scale: literal replace chain
    * fused into the scan. */
  val pipelineEncodingRepair: Q = (s, d) => {
    val rt = repairEncoding(mojibakeDirtyText)
    table(s, d, "documents")
      .select(col("source"), mojibakeDirtyText.as("t"), rt.as("rt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rt") =!= col("t"), 1L).otherwise(0L)).as("docs_mojibake"),
        sum((length(col("t")) - length(col("rt"))).cast(LongType))
          .as("chars_repaired"),
        min(md5(col("rt"))).as("fp_min"), max(md5(col("rt"))).as("fp_max"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("docs_mojibake")).as("docs_mojibake"),
        asLong(col("chars_repaired")).as("chars_repaired"),
        col("fp_min"), col("fp_max"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------
  // §2.52 — URL-keyed dedup & boilerplate lines
  // ---------------------------------------------------------------

  /** URL canonicalization + collapse census (§2.52): the green-row
    * companion to pipeline_url_profile — per source, raw-distinct vs
    * canonical-distinct URLs and the share collapsed by
    * canonicalization (case-fold + tracking-strip + param-sort).
    * Without this pre-key, URL-level exact-dedup under-merges the %3
    * twins and over-keeps tracked links. Scale: row-local per-URL
    * expressions after an output-sized explode; one map-combined
    * distinct aggregate per source. */
  val pipelineUrlDedup: Q = (s, d) => {
    val urls = table(s, d, "documents")
      .select(col("source"),
        explode(regexp_extract_all(urlTrackedText,
          lit("[A-Za-z]+://[^ ]+"), lit(0))).as("url"))
      .select(col("source"), col("url"), canonicalizeUrl(col("url")).as("canon"))
    urls.groupBy(col("source"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("url")).as("raw_distinct"),
        countDistinct(col("canon")).as("canon_distinct"),
        min(md5(col("canon"))).as("fp_min"),
        max(md5(col("canon"))).as("fp_max"))
      .select(col("source"), asLong(col("n_urls")).as("n_urls"),
        asLong(col("raw_distinct")).as("raw_distinct"),
        asLong(col("canon_distinct")).as("canon_distinct"),
        asLong(col("raw_distinct") - col("canon_distinct")).as("collapsed"),
        expr("((raw_distinct - canon_distinct) * 1000000) div raw_distinct")
          .as("collapse_share_q6"),
        col("fp_min"), col("fp_max"))
      .orderBy("source")
  }

  /** Raw-crawl character-class profile (§2.53): per source, the
    * letter/digit/whitespace/symbol composition of the RAW markup
    * bytes (the htmlDirtyText fixture) — the cheapest quality signal a
    * crawl pass reads before parsing anything (a symbol-heavy source
    * is markup/code; a digit-heavy one is tables/logs). Class counts
    * via length-minus-stripped (one regexp_replace per class, same
    * automata both engines); shares are integer divisions. Scale:
    * fused row-local chain, one |sources| aggregate. */
  val pipelineCharClassProfile: Q = (s, d) => {
    def cls(p: String) =
      (length(htmlDirtyText) -
        length(regexp_replace(htmlDirtyText, lit(p), lit("")))).cast(LongType)
    table(s, d, "documents")
      .select(col("source"), length(htmlDirtyText).cast(LongType).as("n"),
        cls("[A-Za-z]").as("le"), cls("[0-9]").as("di"),
        cls("[ \\t\\n]").as("ws"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_chars"),
        sum(col("le")).as("letters"), sum(col("di")).as("digits"),
        sum(col("ws")).as("whitespace"),
        sum(col("n") - col("le") - col("di") - col("ws")).as("symbols"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("n_chars")).as("n_chars"),
        asLong(col("letters")).as("letters"),
        asLong(col("digits")).as("digits"),
        asLong(col("whitespace")).as("whitespace"),
        asLong(col("symbols")).as("symbols"),
        expr("(letters * 1000000) div n_chars").as("letter_share_q6"),
        expr("(symbols * 1000000) div n_chars").as("symbol_share_q6"))
      .orderBy("source")
  }

  /** Unicode NFKC compatibility census (§2.55): per source, docs whose
    * NFKC form differs from the raw bytes, the signed char delta
    * (ligatures EXPAND: ﬁ→fi; fullwidth folds are length-neutral) and
    * min/max md5 of the normalized texts. DuckDB has no NFKC function,
    * so the oracle expands the planted compatibility set by literal
    * replaces — the md5 range therefore pins the JDK's NFKC against
    * hand-derived Unicode expansions (the base text is pure ASCII, a
    * fixed point of NFKC). Scale: one codegen'd normalize per row,
    * fused into the scan; one |sources| aggregate. */
  val pipelineNfkcCensus: Q = (s, d) => {
    val nt = nfkcText(s, nfkcDirtyText)
    table(s, d, "documents")
      .select(col("source"), nfkcDirtyText.as("t"), nt.as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nt") =!= col("t"), 1L).otherwise(0L)).as("docs_compat"),
        sum(length(col("t")).cast(LongType)).as("chars_raw"),
        sum(length(col("nt")).cast(LongType)).as("chars_nfkc"),
        min(md5(col("nt"))).as("fp_min"), max(md5(col("nt"))).as("fp_max"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("docs_compat")).as("docs_compat"),
        asLong(col("chars_raw")).as("chars_raw"),
        asLong(col("chars_nfkc")).as("chars_nfkc"),
        asLong(col("chars_nfkc") - col("chars_raw")).as("chars_delta"),
        col("fp_min"), col("fp_max"))
      .orderBy("source")
  }

  /** Boilerplate-REMOVAL census (§2.56): pipeline_boilerplate_lines
    * pins the df-rule DETECTION; this pins the REWRITE — the same
    * fixture run through the actual [[Curation.stripBoilerplate]]
    * stage (shared code, not a re-derivation), reporting per source
    * the docs changed, char mass before/after, and the md5 range of
    * the REBUILT texts (kept lines re-joined in position order).
    * Exactness: same integer df rule; the rebuild is deterministic
    * (position-sorted array_join == string_agg ORDER BY subscript).
    * Scale: the df relation is \|distinct lines\|-sized; the rebuild
    * groups \|docs\| rows — the stage's own plan, censused. */
  val pipelineBoilerplateRemoval: Q = (s, d) => {
    val dirty = table(s, d, "documents")
      .select(col("source"), col("doc_id"), boilerplateDirtyText.as("text"))
      .localCheckpoint(true) // read by the stage AND the before-side
    val rebuilt = Curation.stripBoilerplate(dirty)
      .select(col("doc_id"), col("text").as("rt"))
    dirty.join(rebuilt, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rt") =!= col("text"), 1L).otherwise(0L))
          .as("docs_changed"),
        sum(length(col("text")).cast(LongType)).as("chars_before"),
        sum(length(col("rt")).cast(LongType)).as("chars_after"),
        min(md5(col("rt"))).as("fp_min"), max(md5(col("rt"))).as("fp_max"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("docs_changed")).as("docs_changed"),
        asLong(col("chars_before")).as("chars_before"),
        asLong(col("chars_after")).as("chars_after"),
        col("fp_min"), col("fp_max"))
      .orderBy("source")
  }

  /** Sentence-grain profile (§2.58): per source over the sentencified
    * fixture — token mass, sentence count (TERMINAL-char census via
    * length-minus-stripped, the char-class recipe: regexp split
    * semantics differ between engines on trailing empties, counting
    * terminals does not), comma count, tokens-per-sentence, and the
    * md5 range of the fixture text (pins the 1-based index alignment
    * that builds it). Integer divisions only. Scale: fused row-local
    * chain, one \|sources\| aggregate. */
  val pipelineSentenceProfile: Q = (s, d) => {
    val t = sentenceDirtyText
    def cls(c: Column, p: String) =
      (length(c) - length(regexp_replace(c, lit(p), lit("")))).cast(LongType)
    table(s, d, "documents")
      .select(col("source"), t.as("t"),
        size(split(col("text"), " ")).cast(LongType).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(cls(col("t"), "[.!]")).as("n_sentences"),
        sum(cls(col("t"), ",")).as("n_commas"),
        min(md5(col("t"))).as("fp_min"), max(md5(col("t"))).as("fp_max"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("n_tokens")).as("n_tokens"),
        asLong(col("n_sentences")).as("n_sentences"),
        asLong(col("n_commas")).as("n_commas"),
        expr("(n_tokens * 1000000) div n_sentences").as("toks_per_sent_q6"),
        col("fp_min"), col("fp_max"))
      .orderBy("source")
  }

  /** Coleman–Liau readability (§2.58): per source, CLI = 0.0588·L −
    * 0.296·S − 15.8 with L = letters per 100 words and S = sentences
    * per 100 words — the readability index that needs NO syllable
    * dictionary (deterministic from char classes), over the
    * sentencified fixture. Letters/terminals counted via the
    * length-minus-stripped recipe; L, S and the index are ONE double
    * tree over exact integers, q6. Scale: fused row-local chain, one
    * \|sources\| aggregate. */
  val pipelineReadability: Q = (s, d) => {
    val t = sentenceDirtyText
    def cls(c: Column, p: String) =
      (length(c) - length(regexp_replace(c, lit(p), lit("")))).cast(LongType)
    table(s, d, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast(LongType).as("w"),
        cls(t, "[A-Za-z]").as("le"), cls(t, "[.!]").as("se"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("le")).as("letters"), sum(col("se")).as("sentences"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("words")).as("words"),
        asLong(col("letters")).as("letters"),
        asLong(col("sentences")).as("sentences"),
        asLong(floor((lit(0.0588) *
          (col("letters").cast(DoubleType) * 100.0 / col("words")) -
          lit(0.296) *
          (col("sentences").cast(DoubleType) * 100.0 / col("words")) -
          lit(15.8)) * 1e6)).as("cli_q6"))
      .orderBy("source")
  }

  /** Boilerplate-line census (§2.52): ' | '-separated lines whose
    * document frequency within a source reaches 30% (the integer rule
    * 10·df ≥ 3·n_docs) AND df ≥ 2 are boilerplate — the C4/CCNet
    * line-frequency screen; the df≥2 floor keeps a line that exists in
    * ONE doc from ever flagging, however small the source. Per source:
    * line mass, distinct lines, flagged lines, and the boilerplate
    * char share. Exactness: integer df rule, integer division. Scale:
    * the df relation is |distinct lines|-sized; the line join is
    * equi-keyed on (source, line) — never doc². */
  val pipelineBoilerplateLines: Q = (s, d) => {
    val ln = table(s, d, "documents")
      .select(col("source"), col("doc_id"),
        explode(split(boilerplateDirtyText, " \\| ")).as("line0"))
      .select(col("source"), col("doc_id"), trim(col("line0")).as("line"))
      .localCheckpoint(true) // consumed by df + the line-grain join
    val df = ln.groupBy(col("source"), col("line"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    val nd = ln.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    ln.join(df, Seq("source", "line"))
      .join(broadcast(nd), Seq("source"))
      .withColumn("is_bp",
        col("ndocs") >= 2 && col("ndocs") * 10 >= col("n_docs") * 3)
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"), count(lit(1)).as("n_lines"),
        countDistinct(col("line")).as("distinct_lines"),
        countDistinct(when(col("is_bp"), col("line"))).as("bp_lines"),
        sum(when(col("is_bp"), length(col("line")).cast(LongType))
          .otherwise(0L)).as("bp_chars"),
        sum(length(col("line")).cast(LongType)).as("all_chars"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("n_lines")).as("n_lines"),
        asLong(col("distinct_lines")).as("distinct_lines"),
        asLong(col("bp_lines")).as("bp_lines"),
        asLong(col("bp_chars")).as("bp_chars"),
        expr("(bp_chars * 1000000) div all_chars").as("bp_share_q6"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------
  // §2.60 — sentence-grain dedup (the C4/RefinedWeb line-level recipe
  // at sentence grain, over the §2.58 sentencified fixture)
  // ---------------------------------------------------------------

  /** (doc_id, source, pos, sent, tok, h): the corpus at sentence grain
    * — the §2.58 sentencified fixture split on terminal+space, each
    * sentence NORMALIZED for the dedup key (terminal/comma punctuation
    * stripped; single spaces survive because every separator was
    * attached to its token), ≥3-token sentences only (the C4 short-
    * line floor). `pos` is the 0-based sentence index — ORDER-only
    * (the excision rebuild sorts on it; both engines agree on order,
    * not origin). One fused row-local chain per doc — the explode is
    * the only fan-out. */
  private[graft] def sentenceRows(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(split(sentenceDirtyText, "[.!] ")).as(Seq("pos", "raw")))
      .withColumn("sent", trim(regexp_replace(col("raw"), "[.!,]", "")))
      .filter(col("sent") =!= "" &&
        size(split(col("sent"), " ")) >= 3)
      .withColumn("tok", size(split(col("sent"), " ")).cast(LongType))
      .withColumn("h", md5(col("sent")))
      .drop("raw")

  /** Sentence-grain near-dup pairs (§2.60): doc pairs sharing
    * normalized sentences whose corpus document-frequency is in
    * [2, 20] — the df-capped pigeonhole rule (dedup_substring_spans'
    * band-bound at sentence grain): a sentence in >20 docs is
    * boilerplate, not a dup signal, and capping df bounds the pair
    * fan-out at C(20,2) per sentence hash BY CONSTRUCTION. Per
    * surviving pair: shared-sentence count, shared token mass, and the
    * min sentence hash (pins membership). Exactness: integer counts
    * over md5-grouped sentences — no floats anywhere. Scale: one
    * (doc,h)-distinct shuffle, one df aggregate, one equi-join on h
    * with the [2,20] cap — never doc². */
  val dedupSentenceSpans: Q = (s, d) => {
    // round 16: the per-hash doc list replaces the df-filter + h-keyed
    // self-join (which re-derived the sentence chain per join side —
    // the plan carried 8 scans of the regexp explode). ONE groupBy(h)
    // collects the doc ids, [[Pairs.ordered]] expands them in-row
    // carrying (h, tok); group bound: df∈[2,20].
    val ds = sentenceRows(s, d)
      .select(col("doc_id"), col("h"), col("tok")).distinct()
    val byH = ds.groupBy(col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"),
        max(col("tok")).as("tok"), count(lit(1)).as("c"))
      .filter(col("c").between(2L, 20L))
    byH.select(col("h"), col("tok"), explode(Pairs.ordered(col("ids"))(
        (x, y) => struct(x.as("d1"), y.as("d2")))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        col("h"), col("tok"))
      .groupBy(col("d1"), col("d2"))
      .agg(asLong(count(lit(1))).as("n_shared"),
        sum(col("tok")).as("shared_tokens"),
        min(col("h")).as("h_min"))
      .orderBy("d1", "d2")
  }

  /** Sentence-excision census (§2.60): the C4-style line-dedup REWRITE
    * — every normalized sentence appearing in ≥2 DISTINCT docs is
    * excised from ALL of them (the conservative corpus-wide rule; a
    * keep-one policy is a filter on top), docs rebuilt from their
    * surviving sentences in order. Per source: doc count, sentence and
    * token mass before/removed, docs changed, and the md5 range of
    * rebuilt texts — pinning the REWRITE itself, not just the counts
    * (the boilerplate_removal contract). Scale: the dup relation is
    * \|distinct dup hashes\|-sized (equi-join on h, never doc²); the
    * rebuild is ONE doc-grain aggregate with a budget-bounded in-row
    * sort. */
  val pipelineSentenceExcision: Q = (s, d) => {
    val rows = sentenceRows(s, d)
    val dup = rows.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"), lit(true).as("_dup"))
    val flagged = rows.join(dup, Seq("h"), "left")
      .withColumn("_rm", coalesce(col("_dup"), lit(false)))
    val perDoc = flagged.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("s_tot"),
        sum(when(col("_rm"), 1L).otherwise(0L)).as("s_rm"),
        sum(col("tok")).as("t_tot"),
        sum(when(col("_rm"), col("tok")).otherwise(0L)).as("t_rm"),
        // collect_list drops nulls, so removed sentences vanish from
        // the rebuild; array_sort on (pos, sent) restores doc order
        array_join(transform(array_sort(collect_list(
          when(!col("_rm"), struct(col("pos"), col("sent"))))),
          x => x.getField("sent")), ". ").as("rt"))
    perDoc.groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        sum(col("s_tot")).as("sentences"),
        sum(col("s_rm")).as("sentences_removed"),
        sum(col("t_tot")).as("tokens"),
        sum(col("t_rm")).as("tokens_removed"),
        sum(when(col("s_rm") > 0, 1L).otherwise(0L)).as("docs_changed"),
        min(md5(col("rt"))).as("fp_min"),
        max(md5(col("rt"))).as("fp_max"))
      .select(col("source"), col("n_docs"),
        asLong(col("sentences")).as("sentences"),
        asLong(col("sentences_removed")).as("sentences_removed"),
        asLong(col("tokens")).as("tokens"),
        asLong(col("tokens_removed")).as("tokens_removed"),
        asLong(col("docs_changed")).as("docs_changed"),
        col("fp_min"), col("fp_max"))
      .orderBy("source")
  }
}
