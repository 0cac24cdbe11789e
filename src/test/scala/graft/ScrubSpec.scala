package graft

import graft.operators.Scrub
import org.apache.spark.sql.functions._

/** Crafted-fixture coverage for the corpus-hygiene operators: PII
  * redaction (q150) and URL canonicalization (q151). The oracle gate
  * proves engine parity on the synthetic corpus; these prove the
  * operators do the right thing on REAL-shaped inputs the fixture
  * can't produce (multiple PII per doc, format variants, already-clean
  * text, canonicalization collisions). */
class ScrubSpec extends SparkSpec {
  import spark.implicits._

  test("piiScrub redacts every class and counts pre-redaction") {
    val docs = Seq(
      ("reach me at a.b+c@mail-host.co.uk or backup@x.io now", 2, 0, 0),
      ("call 555-123-4567 or (555) 123-4567 or +1 555-123-4567", 0, 3, 0),
      ("servers 10.0.0.1 and 192.168.255.254 are up", 0, 0, 2),
      ("mixed: a@b.com, 555-000-1111, 127.0.0.1", 1, 1, 1),
      ("clean text with no pii at all, just words", 0, 0, 0),
      ("version 1.2.3 and price 10.99 are not IPs", 0, 0, 0))
      .toDF("text", "e", "p", "i")
    val got = Scrub.piiScrub(docs).collect()
    got.foreach { r =>
      assert(r.getAs[Int]("n_email") == r.getAs[Int]("e"), r.toString)
      assert(r.getAs[Int]("n_phone") == r.getAs[Int]("p"), r.toString)
      assert(r.getAs[Int]("n_ip") == r.getAs[Int]("i"), r.toString)
      val t = r.getAs[String]("text")
      assert(!t.matches(s".*${Scrub.EmailRe}.*"), t)
      assert(!t.contains("555-123-4567") && !t.contains("10.0.0.1"), t)
    }
    // the clean rows came through byte-identical
    assert(got.map(_.getAs[String]("text"))
      .contains("clean text with no pii at all, just words"))
    assert(got.map(_.getAs[String]("text"))
      .contains("version 1.2.3 and price 10.99 are not IPs"))
  }

  test("Ipv4Re redacts only valid-octet IPs: 999.999.999.999 and " +
    "300.1.2.3 survive unredacted") {
    val docs = Seq(
      "bogus 999.999.999.999 stays",
      "octet 300.1.2.3 overflows",
      "also 256.0.0.1 is invalid",
      "edge 255.255.255.255 is real",
      "min 0.0.0.0 is real",
      "mixed 199.99.9.0 is real")
      .toDF("text")
    val got = Scrub.piiScrub(docs)
      .select("text", "n_ip").as[(String, Int)].collect().toMap
    assert(got("bogus 999.999.999.999 stays") == 0)
    assert(got("octet 300.1.2.3 overflows") == 0)
    assert(got("also 256.0.0.1 is invalid") == 0)
    assert(got("edge <IP> is real") == 1)
    assert(got("min <IP> is real") == 1)
    assert(got("mixed <IP> is real") == 1)
  }

  test("blocklistTag matches accented and non-Latin terms (unicode " +
    "letter/digit tokenizer) and rejects multi-token terms loudly") {
    val docs = Seq(
      (1L, "visit the Café today"),          // accented + case
      (2L, "пример текста здесь"),           // Cyrillic term hit
      (3L, "cafe without the accent"),       // must NOT match 'café'
      (4L, "naïve—dashed; punctuation"),     // unicode punct boundary
      (5L, "all clean words"))
      .toDF("doc_id", "text")
    val tagged = Scrub.blocklistTag(docs, Seq("café", "пример", "naïve"))
      .select($"doc_id", $"block_term").as[(Long, Option[String])]
      .collect().toMap
    assert(tagged(1L) == Some("café"))
    assert(tagged(2L) == Some("пример"))
    assert(tagged(3L) == None)
    assert(tagged(4L) == Some("naïve"))
    assert(tagged(5L) == None)
    // a term the tokenizer can never produce fails at call time, not
    // silently at match time
    val e = intercept[IllegalArgumentException] {
      Scrub.blocklistTag(docs, Seq("ok", "bad word", "e-mail"))
    }
    assert(e.getMessage.contains("bad word")
      && e.getMessage.contains("e-mail"), e.getMessage)
  }

  test("piiScrub is idempotent: scrubbing scrubbed text is a no-op") {
    val docs = Seq("a@b.com 555-123-4567 10.0.0.1 plus words").toDF("text")
    val once = Scrub.piiScrub(docs).select("text").as[String].head()
    val twice = Scrub.piiScrub(Scrub.piiScrub(docs))
      .select("text").as[String].head()
    assert(once == twice)
    assert(once == "<EMAIL> <PHONE> <IP> plus words")
  }

  test("canonicalUrl folds scheme/www/case/trailing-slash/query variants " +
    "into one key") {
    val variants = Seq(
      "https://www.Example.com/a/b",
      "http://EXAMPLE.COM/a/b/",
      "https://example.com/a/b?utm_source=x",
      "http://WWW.example.com/a/b/?q=1#frag")
      .toDF("url")
    val canon = variants.select(Scrub.canonicalUrl(col("url")).as("c"))
      .as[String].collect().toSet
    assert(canon == Set("example.com/a/b"), canon.toString)
  }

  test("canonicalHost keeps non-www subdomains and interior 'www'") {
    val got = Seq("https://cdn.example.com/x", "https://wwwx.example.com/x",
      "https://a.www.example.com/x")
      .toDF("url").select(Scrub.canonicalHost(col("url")).as("h"))
      .as[String].collect().toSeq
    assert(got == Seq("cdn.example.com", "wwwx.example.com",
      "a.www.example.com"))
  }

  test("nfc_normalize: decomposed == precomposed after NFC; ASCII " +
    "fast-path returns input unchanged; null-safe; codegen active") {
    import graft.functions.TextFunctions.nfc_normalize
    val df = Seq(
      ("café naïve", "café naïve"),
      ("plain ascii", "plain ascii"))
      .toDF("a", "b")
      .select(nfc_normalize(col("a")).as("na"),
        nfc_normalize(col("b")).as("nb"))
    df.collect().foreach(r => assert(r.getString(0) == r.getString(1)))
    // null in -> null out
    val n = Seq(Option.empty[String]).toDF("s")
      .select(nfc_normalize(col("s"))).head()
    assert(n.isNullAt(0))
    // the expression must not break the codegen span (checked over a
    // parquet scan — a local Seq constant-folds to LocalTableScan).
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact
    // plan rendering; the Project wrapping nfc_normalize must carry it.
    val plan = tables.documents
      .select(nfc_normalize(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(spark.sql("SELECT nfc_normalize('café')").head()
      .getString(0) == "café")
  }

  test("normalizeText collapses whitespace and folds unicode variants " +
    "to one dedup key") {
    val got = Seq("  café   x\ty  ", "café x y")
      .toDF("text")
      .select(Scrub.normalizeText(col("text")).as("n"))
      .as[String].collect().toSet
    assert(got == Set("caf\u00e9 x y"), got.toString)
  }

  test("blocklistTag: token-exact (no substring trips), deterministic " +
    "min-term representative, drop keeps exactly the clean docs") {
    val docs = Seq(
      (1L, "this class is fine"),            // "class" must NOT trip "ass"
      (2L, "zebra apple banana"),            // two hits -> min "apple"
      (3L, "all clean words here"),
      (4L, "ends with apple"),
      (5L, "you Ass. and more"),             // case + punctuation adjacency
      (6L, "bad\nass newline-split"))        // newline boundary
      .toDF("doc_id", "text")
    val terms = Seq("ass", "apple", "zebra")
    val tagged = Scrub.blocklistTag(docs, terms)
      .select($"doc_id", $"block_term", $"blocked")
      .as[(Long, Option[String], Boolean)].collect()
      .map { case (k, v, b) => k -> ((v, b)) }.toMap
    assert(tagged(1L) == ((None, false)))
    assert(tagged(2L) == ((Some("apple"), true)))
    assert(tagged(3L) == ((None, false)))
    assert(tagged(4L) == ((Some("apple"), true)))
    assert(tagged(5L) == ((Some("ass"), true)))
    assert(tagged(6L) == ((Some("ass"), true)))
    val kept = Scrub.blocklistTag(docs, terms).filter(!$"blocked")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("q150/q151 run on the fixture corpus with sane totals") {
    val r150 = Scrub.q150(tables.documents)
    val n = tables.documents.count()
    assert(r150.count() == n)
    val agg = r150.agg(sum("n_email"), sum("n_phone"), sum("n_ip"))
      .head()
    // residue-planted: one email per doc_id%3==0, phone %5, ip %7
    assert(agg.getLong(0) == (0L until n).count(_ % 3 == 0))
    assert(agg.getLong(1) == (0L until n).count(_ % 5 == 0))
    assert(agg.getLong(2) == (0L until n).count(_ % 7 == 0))
    val r151 = Scrub.q151(tables.documents).collect()
    assert(r151.length == math.min(37L, n))
    // dup_mass consistency: n_docs - n_paths, and hosts are canonical
    r151.foreach { r =>
      assert(r.getAs[Long]("dup_mass")
        == r.getAs[Long]("n_docs") - r.getAs[Long]("n_paths"))
      val h = r.getAs[String]("host")
      assert(h == h.toLowerCase && !h.startsWith("www."), h)
    }
  }

  test("lineScrub removes frequent lines, keeps rare ones, preserves " +
    "order, and rebuilds byte-exact text") {
    // boilerplate 'NAV' and 'FOOT' appear in 3 docs each; body lines
    // are unique; threshold 3 removes exactly the chrome
    val docs = Seq(
      (1L, "NAV\nalpha body one\nmid line a\nFOOT"),
      (2L, "NAV\nbeta body two\nFOOT"),
      (3L, "NAV\ngamma body three\nFOOT"),
      (4L, "delta stands alone"))
      .toDF("doc_id", "text")
    val got = Scrub.lineScrub(docs, minDocs = 3)
      .select("doc_id", "text", "n_lines", "n_removed")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_removed"))).toMap
    assert(got(1L) == (("alpha body one\nmid line a", 4L, 2L)))
    assert(got(2L) == (("beta body two", 3L, 2L)))
    assert(got(3L) == (("gamma body three", 3L, 2L)))
    assert(got(4L) == (("delta stands alone", 1L, 0L)))
  }

  test("lineScrub threshold boundary: a line in minDocs-1 docs " +
    "survives; all-boilerplate docs survive with empty text") {
    val docs = Seq(
      (1L, "twice\nunique a"), (2L, "twice\nunique b"),
      (3L, "thrice"), (4L, "thrice"), (5L, "thrice"))
      .toDF("doc_id", "text")
    val got = Scrub.lineScrub(docs, minDocs = 3)
      .select("doc_id", "text", "n_removed")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getAs[Long]("n_removed"))).toMap
    // 'twice' occurs in 2 docs < 3 -> kept; 'thrice' in 3 -> scrubbed
    assert(got(1L) == (("twice\nunique a", 0L)))
    assert(got(2L) == (("twice\nunique b", 0L)))
    assert(got(3L) == (("", 1L)))
    assert(got(4L) == (("", 1L)))
    assert(got(5L) == (("", 1L)))
  }

  test("lineScrub counts distinct DOCS, not occurrences: a line " +
    "repeated inside one doc does not cross the threshold") {
    val docs = Seq(
      (1L, "echo\necho\necho\nbody one"),
      (2L, "body two"))
      .toDF("doc_id", "text")
    val got = Scrub.lineScrub(docs, minDocs = 2)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "echo\necho\necho\nbody one")
  }

  test("htmlStrip extracts text: tags stripped, script/style bodies " +
    "dropped, entities unescaped, whitespace collapsed") {
    val docs = Seq(
      ("<html><body><h1>Title</h1><p>Hello  <b>world</b>!</p>" +
        "</body></html>", "Title Hello world !"),
      ("<script>if (a < b && c > d) { alert('x'); }</script>keep me",
        "keep me"),
      ("<style>.x { color: red; }</style>styled out", "styled out"),
      ("Tom &amp; Jerry say &quot;hi&quot; &lt;here&gt;",
        "Tom & Jerry say \"hi\" <here>"),
      // single-pass rule: &amp;lt; is the literal text '&lt;', not '<'
      ("escaped &amp;lt; stays literal", "escaped &lt; stays literal"),
      ("no markup at all", "no markup at all"))
      .toDF("raw", "want")
    docs.select(Scrub.htmlStrip(col("raw")).as("got"), col("want"))
      .collect().foreach { r =>
        assert(r.getString(0) == r.getString(1), r.toString)
      }
  }

  test("q158 on the fixture: every doc extracts its body text and " +
    "title; planted entity paragraph unescapes") {
    val r = Scrub.q158(tables.documents).collect()
    assert(r.length == tables.documents.count())
    r.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      // base chrome: html, head, title, /title, /head, body, h1, /h1,
      // p, /p, /body, /html = 12 tags; +2 per planted entity <p>
      val expectTags = 12 + (if (id % 2 == 0) 2 else 0)
      assert(row.getAs[Long]("n_tags") == expectTags, row.toString)
      assert(row.getAs[Long]("n_chars") > 0)
    }
  }

  test("the hygiene suite is SQL-callable and the SQL surface equals " +
    "the Column API row-for-row") {
    tables.documents.limit(50).createOrReplaceTempView("docs_sql")
    // html_strip
    val viaSql = spark.sql(
      "SELECT doc_id, html_strip('<p>' || text || '</p>') AS s " +
        "FROM docs_sql ORDER BY doc_id").collect()
    val viaCol = tables.documents.limit(50)
      .select($"doc_id", Scrub.htmlStrip(
        concat(lit("<p>"), $"text", lit("</p>"))).as("s"))
      .orderBy("doc_id").collect()
    assert(viaSql.map(_.getString(1)).toSeq ==
      viaCol.map(_.getString(1)).toSeq)
    // pii_redact
    val red = spark.sql(
      "SELECT pii_redact('mail a@b.com or 10.0.0.1') AS r").head()
    assert(red.getString(0) == "mail <EMAIL> or <IP>")
    // canonical_url + normalize_text
    assert(spark.sql(
      "SELECT canonical_url('https://WWW.Site.com/x/') AS u").head()
      .getString(0) == "site.com/x")
    assert(spark.sql(
      "SELECT normalize_text('  a\tb  ') AS n").head()
      .getString(0) == "a b")
  }

  test("q157 on the fixture: planted chrome lines are scrubbed, the " +
    "per-doc ref line survives") {
    val r = Scrub.q157(tables.documents)
    val n = tables.documents.count()
    assert(r.count() == n)
    val rows = r.collect()
    rows.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      // planted: nav on %2, newsletter on %3, footer on %4 all exceed
      // the threshold and must be removed; body + ref line survive
      val expectRemoved =
        (if (id % 2 == 0) 1 else 0) + (if (id % 3 == 0) 1 else 0) +
          (if (id % 4 == 0) 1 else 0)
      assert(row.getAs[Long]("n_removed") == expectRemoved, row.toString)
      assert(row.getAs[Long]("n_lines") == expectRemoved + 2, row.toString)
    }
  }
}
