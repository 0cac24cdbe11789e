package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus hygiene operators every Dolma/CCNet-shaped training pipeline
  * runs before anything touches a tokenizer: PII redaction and URL/host
  * canonicalization. (The reference engine has no counterpart — these
  * extend the engine's LLM-data-pipeline surface, SURVEY §2.12.)
  *
  * Both are pure narrow column transforms (codegen'd `regexp_replace` /
  * `regexp_count` / string ops — no UDFs, no shuffle of their own), so
  * at 100 TB they ride the corpus scan for free; only the reporting
  * aggregates underneath q150/q151 shuffle, and those are hash-aggs on
  * low-cardinality keys (PII class / canonical host).
  *
  * Regex notes: patterns are deliberately restricted to constructs with
  * identical semantics in Java regex (Spark) and RE2 (DuckDB oracle) —
  * character classes, bounded repetition, `\b`, non-capturing-free
  * alternation. No backreferences, no lookaround.
  */
object Scrub {

  /** PII classes, ordered: redaction applies in this sequence, and for
    * OVERLAPPING matches the order decides (e.g. a phone number used
    * as an email local part, `555-123-4567@x.com`, matches both; the
    * email-first order redacts the whole address as `<EMAIL>`, which
    * is the containing span — the reason email runs first). Counts are
    * per-class over the raw text, so one such span counts under both
    * classes. Callers supplying custom `classes` should order them
    * containing-span-first. */
  val EmailRe: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** NANP forms: `555-123-4567`, `(555) 123-4567`, `+1 555-123-4567`.
    * The word boundary sits INSIDE the bare-digit alternative: `\b`
    * before `\(` never matches (paren and the preceding space are both
    * non-word), and RE2 has no lookbehind to express it otherwise. */
  val PhoneRe: String =
    "(\\+[0-9]{1,2} )?(\\([0-9]{3}\\) |\\b[0-9]{3}[.-])[0-9]{3}[.-][0-9]{4}\\b"
  /** Valid-octet IPv4 only (0–255 per octet, longest-alternative-first
    * so leftmost-first (Java/RE2) and leftmost-longest engines agree):
    * `999.999.999.999` or `300.1.2.3` are version-ish noise, not PII,
    * and redacting them destroys non-PII text for nothing. */
  val Ipv4Re: String = {
    val octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
    s"\\b($octet\\.){3}$octet\\b"
  }

  val DefaultClasses: Seq[(String, String, String)] = Seq(
    ("email", EmailRe, "<EMAIL>"),
    ("phone", PhoneRe, "<PHONE>"),
    ("ip", Ipv4Re, "<IP>"))

  /** Redact every PII class occurrence in `text`, appending one count
    * column per class (`n_<class>`, counted pre-redaction) and
    * replacing the text column with its redacted form. Idempotent: the
    * replacement tokens match none of the patterns. */
  def piiScrub(
      df: DataFrame,
      textCol: String = "text",
      classes: Seq[(String, String, String)] = DefaultClasses): DataFrame = {
    val counted = classes.foldLeft(df) { case (acc, (name, re, _)) =>
      acc.withColumn(s"n_$name", regexp_count(col(textCol), lit(re)))
    }
    val redacted = classes.foldLeft(col(textCol)) {
      case (c, (_, re, token)) => regexp_replace(c, re, token)
    }
    counted.withColumn(textCol, redacted)
  }

  /** Canonical host: lowercase, leading `www.` stripped. */
  def canonicalHost(url: Column): Column =
    regexp_replace(lower(parse_url(url, lit("HOST"))), "^www\\.", "")

  /** Canonical path: query/fragment dropped (parse_url PATH already
    * excludes them), trailing slash stripped. */
  def canonicalPath(url: Column): Column =
    regexp_replace(parse_url(url, lit("PATH")), "/$", "")

  /** Canonical URL string (scheme dropped — dedup treats http/https
    * mirrors as one document). */
  def canonicalUrl(url: Column): Column =
    concat(canonicalHost(url), canonicalPath(url))

  /** Canonical text normalization: Unicode NFC (via the codegen'd
    * [[graft.functions.NfcNormalize]] expression — no UDF) + whitespace
    * collapse + trim. Run BEFORE any hash-keyed text operator: a
    * combining-mark `café` and the precomposed form are byte-different
    * but canonically equal, so unnormalized corpora under-dedup. Pure
    * narrow transform; rides the corpus scan. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      graft.functions.TextFunctions.nfc_normalize(c), "\\s+", " "))

  /** Blocklist tagging (the C4 "bad words" filter): mark each document
    * with the alphabetically-smallest blocklist term it contains (a
    * deterministic representative — the engines must agree on WHICH
    * term gets reported) and a `blocked` flag; filtering on
    * `!blocked` keeps the clean docs. Token-exact matching, not
    * substring — "class" must not trip a blocklist entry "ass" (the
    * documented C4 flaw).
    *
    * Scale: for typical blocklists (10²–10⁴ terms) the list rides the
    * expression as a literal array — evaluated per row inside codegen,
    * no shuffle, no join. A 10⁶+-term list no longer fits a literal
    * array; it would need explode(tokens) + a join on the term set
    * (the q153 bloom pattern applies), which no query here uses. */
  /** Tokenizer shared by text and terms: lowercase + split on runs of
    * anything that is not a Unicode letter or digit. `\p{L}`/`\p{N}`
    * have identical semantics in Java regex (Spark) and RE2 (DuckDB),
    * so `café`, Cyrillic, or CJK-adjacent terms tokenize the same on
    * both sides — an ASCII-only class would make every non-ASCII
    * letter a boundary and silently never match accented terms. */
  private val TokenSplitRe = "[^\\p{L}\\p{N}]+"

  def blocklistTag(
      df: DataFrame, terms: Seq[String],
      textCol: String = "text"): DataFrame = {
    // lowercase + token split: 'Ass', 'ass.' and 'bad\nass' all yield
    // the token 'ass' — case or punctuation adjacency must not let a
    // listed term escape (the false-negative mirror of C4's substring
    // false positives). Terms are lowercased to match.
    val lowered = terms.map(_.toLowerCase)
    // Fail LOUDLY on terms this tokenizer can never match (empty, or
    // multi-token like "bad word" / "e-mail"): a silently-dead
    // blocklist entry passes documents it was meant to catch.
    val dead = lowered.filter { t =>
      t.split(TokenSplitRe).filter(_.nonEmpty).toSeq != Seq(t)
    }
    require(dead.isEmpty,
      "blocklist terms must be single tokens under the " +
        s"letter/digit tokenizer; unmatched as-is: ${dead.mkString(", ")} " +
        "(split multi-word phrases into their tokens or use an n-gram " +
        "phrase filter)")
    val hit = array_min(array_intersect(
      split(lower(col(textCol)), TokenSplitRe),
      lit(lowered.toArray)))
    df.withColumn("block_term", hit)
      .withColumn("blocked", hit.isNotNull)
  }

  // ---- q150 / q151: the declared oracle queries --------------------

  /** Deterministic PII enrichment of the synthetic corpus: the fixture
    * text is PII-free word soup, so the declared query plants one
    * email / NANP phone / IPv4 on residue-selected docs AS A FUNCTION
    * OF doc_id — both engines derive the identical string, making the
    * redaction path itself oracle-checkable (the same construction the
    * q35 hyperplane oracle uses). */
  /** Deterministic PII enrichment from doc_id residues (email %3,
    * phone %5, IP %7) — shared by q150 and the q177 composed-refresh
    * fixture; the oracle's `enriched` CTE derives the identical
    * strings. */
  private[graft] def piiEnriched(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val email = when(id % 3 === 0, concat(
      lit(" contact user"), id.cast("string"),
      lit("@example"), (id % 7).cast("string"), lit(".com")))
      .otherwise(lit(""))
    val phone = when(id % 5 === 0, concat(
      lit(" call 555-"),
      lpad(((id * 7919) % 1000).cast("string"), 3, "0"), lit("-"),
      lpad(((id * 104729) % 10000).cast("string"), 4, "0")))
      .otherwise(lit(""))
    val ip = when(id % 7 === 0, concat(
      lit(" from 10."), (id % 256).cast("string"),
      lit(".0."), ((id * 31) % 256).cast("string")))
      .otherwise(lit(""))
    documents.withColumn("text", concat(col("text"), email, phone, ip))
  }

  /** q150 — PII scrub report: per document, the per-class redaction
    * counts and the md5 of the redacted text (hash-portable proof the
    * redacted STRING is right, not just the counts). */
  def q150(documents: DataFrame): DataFrame =
    piiScrub(piiEnriched(documents))
      .select(col("doc_id"),
        col("n_email").cast("long").as("n_email"),
        col("n_phone").cast("long").as("n_phone"),
        col("n_ip").cast("long").as("n_ip"),
        md5(col("text")).as("red_md5"))
      .orderBy("doc_id")

  /** Deterministic URL enrichment: scheme / WWW-prefix / host case /
    * trailing slash / utm query all vary by doc_id residues — the
    * classic C4-provenance mess, derived identically in both engines. */
  private def urlEnriched(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val scheme = when(id % 2 === 0, lit("https")).otherwise(lit("http"))
    val www = when(id % 3 === 0, lit("www."))
      .when(id % 3 === 1, lit("WWW.")).otherwise(lit(""))
    val hostRaw = concat(www, lit("site"), (id % 37).cast("string"),
      lit(".example.com"))
    val host = when(id % 5 === 0, upper(hostRaw)).otherwise(hostRaw)
    val path = concat(lit("/p/"), (id % 11).cast("string"),
      when(id % 4 === 0, lit("/")).otherwise(lit("")))
    val query = when(id % 6 === 0, lit("?utm_source=x")).otherwise(lit(""))
    documents.withColumn("url",
      concat(scheme, lit("://"), host, path, query))
  }

  /** q154 — normalization report: per document, whether normalization
    * changed anything and the md5 of the normalized text. The fixture
    * is ASCII single-spaced, so unicode (combining-mark AND precomposed
    * `café`/`naïve` variants) and whitespace mess are planted from
    * doc_id residues — both engines derive the identical raw string,
    * and the hash gate proves NFC + collapse produce byte-identical
    * output across JVM `java.text.Normalizer` and DuckDB's
    * `nfc_normalize` (both implement the Unicode standard). */
  def q154(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val raw = concat(col("text"),
      // decomposed: e + U+0301 combining acute, i + U+0308 diaeresis
      when(id % 4 === 0, lit(" cafe\u0301 nai\u0308ve"))
        .otherwise(lit("")),
      // precomposed U+00E9 / U+00EF: already NFC, changed = false
      when(id % 4 === 1, lit(" caf\u00e9 na\u00efve"))
        .otherwise(lit("")),
      when(id % 4 === 2, lit("  tab\tand   runs  ")).otherwise(lit("")))
    val norm = normalizeText(raw)
    documents.select(id,
      (norm =!= raw).as("changed"),
      md5(norm).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** q155 — blocklist report: per (source, representative term) doc
    * counts; kept docs report the empty term (NULL is avoided as a
    * sort key — engines disagree on null ordering). Fixture vocab
    * terms stand in for a real bad-words list. */
  def q155(documents: DataFrame): DataFrame =
    blocklistTag(documents, Seq("slow", "merge", "window"))
      .select(col("source"),
        coalesce(col("block_term"), lit("")).as("term"))
      .groupBy("source", "term")
      .agg(count(lit(1)).as("n"))
      .orderBy("source", "term")

  /** q151 — host-level provenance stats over canonicalized URLs:
    * per canonical host, document count, distinct canonical paths, and
    * dup mass (docs sharing an already-seen canonical path — the
    * URL-dedup yield estimate). One narrow scan + one hash-agg on ≤37
    * hosts here, |hosts| ≪ |docs| on any real crawl. */
  def q151(documents: DataFrame): DataFrame =
    urlEnriched(documents)
      .select(canonicalHost(col("url")).as("host"),
        canonicalPath(col("url")).as("path"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("path")).as("n_paths"),
        (count(lit(1)) - countDistinct(col("path"))).as("dup_mass"))
      .orderBy("host")

  // ---- q157: frequent-line scrub (C4 line-level boilerplate removal)

  /** Remove every LINE that occurs in >= `minDocs` distinct documents
    * and reassemble each document from its surviving lines in original
    * order — the C4/CCNet line-level boilerplate pass (nav bars,
    * cookie banners, copyright footers repeat across a site; body
    * prose does not). This is a cleaning TRANSFORM, not a detector:
    * the output carries the rebuilt text. Documents whose every line
    * is boilerplate survive with empty text (dropping them is the
    * caller's policy decision, as with [[blocklistTag]]'s flag).
    *
    * Line identity is `trim(line)`; run [[normalizeText]] first on
    * corpora where unicode/whitespace variants should fold together.
    *
    * Scale: one explode to (doc, pos, line), one hash-agg counting
    * distinct docs per line (partial aggs absorb hot boilerplate
    * lines map-side), one equi-join of lines against the frequent
    * set, one groupBy(doc) reassembly. The frequent set is tiny by
    * construction (heavy-tailed boilerplate), so AQE broadcasts the
    * join; at 100 TB key both sides on xxhash64(line) fingerprints so
    * the shuffle carries 8 bytes per line, not the line text — the
    * reassembly side already has to carry the text either way.
    * `idCol` must be a unique row key (the explode round-trips it). */
  def lineScrub(
      df: DataFrame, minDocs: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("__pos", "__line")))
      .withColumn("__key", trim(col("__line")))
    val frequent = lines
      .filter(length(col("__key")) > 0)
      .groupBy("__key")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("__key")
    val kept = lines.join(frequent, Seq("__key"), "left_anti")
    val rebuilt = lines.groupBy(idCol)
      .agg(count(lit(1)).as("n_lines"))
      .join(
        kept.groupBy(idCol).agg(
          count(lit(1)).as("__n_kept"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("__pos"), col("__line")))),
              s => s.getField("__line")),
            "\n").as("__clean")),
        Seq(idCol), "left")
    df.drop(textCol)
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .withColumn("n_removed",
        (col("n_lines") - coalesce(col("__n_kept"), lit(0L))).cast("long"))
      .drop("__clean", "__n_kept")
  }

  /** Deterministic multi-line enrichment: the fixture text is a single
    * line, so the declared query plants site-chrome lines (nav on
    * doc_id%2, newsletter on %3, copyright footer on %4 — each lands
    * in far more than `minDocs` docs) plus a per-doc unique reference
    * line that must SURVIVE the scrub. `concat_ws` skips the NULL
    * branches in both engines. */
  private def lineEnriched(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    documents.withColumn("text", concat_ws("\n",
      when(id % 2 === 0, lit("home about contact login")),
      col("text"),
      when(id % 3 === 0, lit("sign up for our newsletter today")),
      when(id % 4 === 0, lit("copyright acme corp all rights reserved")),
      concat(lit("ref code "), id.cast("string"))))
  }

  /** q157 — line-scrub report: per document, original line count,
    * removed count, and the md5 of the REBUILT text (hash-portable
    * proof the reassembled string — content, order, separators — is
    * right, not just the counts; the q150 pattern). */
  def q157(documents: DataFrame): DataFrame =
    lineScrub(lineEnriched(documents), minDocs = 30)
      .select(col("doc_id"),
        col("n_lines").cast("long").as("n_lines"),
        col("n_removed"),
        md5(col("text")).as("clean_md5"))
      .orderBy("doc_id")

  // ---- q158: HTML → text extraction (the WET/CC-extract pass) ------

  /** Drop `<script>`/`<style>` blocks WITH their contents (tag-strip
    * alone would leak JS/CSS into the "text"). Runs first: script
    * bodies legally contain bare `<` (e.g. `1 < 2`) that would
    * otherwise start a bogus tag match. */
  def dropCodeBlocks(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")

  /** HTML entity unescape, single pass in fixed order (`&amp;` LAST,
    * the standard non-recursive rule: `&amp;lt;` yields the literal
    * text `&lt;`, not `<`). Covers the five named entities + nbsp
    * that dominate real crawl text; a full entity table is the same
    * fold over more literals. */
  def unescapeEntities(c: Column): Column =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(c) { case (acc, (e, r)) =>
        replace(acc, lit(e), lit(r))
      }

  /** HTML → text: drop script/style blocks, strip tags to spaces,
    * unescape entities, collapse whitespace — the Common-Crawl
    * WET-style extraction every web-corpus pipeline starts from.
    * Pure narrow codegen'd transform (regexp_replace + replace
    * chain); rides the corpus scan, embarrassingly parallel. */
  def htmlStrip(c: Column): Column =
    trim(regexp_replace(
      unescapeEntities(regexp_replace(dropCodeBlocks(c), "<[^>]+>", " ")),
      "\\s+", " "))

  /** Deterministic HTML enrichment: wrap the fixture text in page
    * chrome — title/h1, a script block on doc_id%3, a style block on
    * %5, an entity-laden paragraph on %2 — derived identically in
    * both engines (the q150 pattern). */
  private def htmlEnriched(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    documents.withColumn("raw", concat(
      lit("<html><head><title>Doc "), id.cast("string"), lit("</title>"),
      when(id % 3 === 0,
        lit("<script>var x = 1 < 2 && true;</script>")).otherwise(lit("")),
      when(id % 5 === 0,
        lit("<style>.nav { color: #fff; }</style>")).otherwise(lit("")),
      lit("</head><body><h1>Doc "), id.cast("string"), lit("</h1><p>"),
      col("text"), lit("</p>"),
      when(id % 2 === 0,
        lit("<p>Tom &amp; Jerry &lt;tag&gt; &quot;q&quot;" +
          " &#39;s&nbsp;end</p>")).otherwise(lit("")),
      lit("</body></html>")))
  }

  /** q158 — HTML-extraction report: per document, the markup-tag
    * count (after block removal — script/style innards are not
    * "tags") and the md5 + length of the extracted text (hash-
    * portable proof of the exact extracted string). */
  def q158(documents: DataFrame): DataFrame = {
    val noBlocks = dropCodeBlocks(col("raw"))
    htmlEnriched(documents)
      .select(col("doc_id"),
        regexp_count(noBlocks, lit("<[^>]+>")).cast("long").as("n_tags"),
        htmlStrip(col("raw")).as("__clean"))
      .select(col("doc_id"), col("n_tags"),
        md5(col("__clean")).as("clean_md5"),
        length(col("__clean")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }
}
