package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface (SURVEY
  * §2.10 X3): token statistics, quality scoring, marker-based language
  * ID, and document fingerprinting over the `documents` table.
  *
  * All operators are pure Column expressions (codegen-friendly, no
  * UDFs); each is a single map-side projection or one groupBy — they
  * scale linearly with document count and never collect to the driver.
  */
object TextAnalysis {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** q18 — per-language corpus stats (SURVEY Q18). */
  def statsByLang(documents: DataFrame): DataFrame =
    documents
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        round(avg(col("n_chars").cast("double")), 2).as("avg_chars"),
        min(length(col("text"))).cast("long").as("min_len"),
        max(length(col("text"))).cast("long").as("max_len"))
      .orderBy("lang")

  /** q22 — token counting: total and distinct whitespace tokens per
    * document (the BPE-ish regex variant is [[tokenCountRegex]]). */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        size(array_distinct(tokens(col("text")))).cast("long")
          .as("n_unique"))
      .orderBy("doc_id")

  /** BPE-ish sub-word token count: splits on word/non-word boundaries
    * with a regex (library surface; unit-tested, not oracle-declared —
    * regex escaping is not portable across engines per SURVEY §2.11). */
  def tokenCountRegex(text: Column): Column =
    size(filter(split(text, "[^A-Za-z0-9]+"), t => length(t) > 0))

  /** q23 — quality scoring: length / mean-token-length / stopword
    * ratio, the heuristics a pretraining filter applies per document. */
  def qualityScore(
      documents: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "and")): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopArr = array(stopwords.map(lit): _*)
    documents
      .select(
        col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        round(col("n_chars") / nTok, 4).as("chars_per_token"),
        round(
          size(filter(toks, t => array_contains(stopArr, t))) / nTok, 4)
          .as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** q24 — marker-token language ID: score each language by marker-token
    * hits, predict the argmax (ties broken by language name). The marker
    * lists are the deterministic stand-in for learned n-gram profiles —
    * the scoring plumbing (per-language score columns → argmax) is what
    * a profile-based classifier uses.
    */
  def langIdByMarkers(
      documents: DataFrame,
      markers: Map[String, Seq[String]] = Map(
        "en" -> Seq("the", "a", "of"),
        "de" -> Seq("der", "die", "das"),
        "es" -> Seq("el", "la", "de"),
        "fr" -> Seq("le", "la", "et"),
        "zh" -> Seq("de", "le", "shi"))): DataFrame = {
    val toks = tokens(col("text"))
    val langs = markers.keys.toSeq.sorted
    val scored = documents.select(
      col("doc_id") +: col("lang").as("lang_true") +: langs.map { l =>
        val arr = array(markers(l).map(lit): _*)
        size(filter(toks, t => array_contains(arr, t))).cast("long")
          .as(s"score_$l")
      }: _*)
    // argmax with deterministic tiebreak: first language (sorted) with
    // the maximal score wins
    val maxScore = greatest(langs.map(l => col(s"score_$l")): _*)
    val out = scored.withColumn("pred_lang",
      langs.foldLeft(lit("und")) { (acc, l) =>
        when(acc =!= "und", acc)
          .otherwise(when(col(s"score_$l") === maxScore, lit(l))
            .otherwise(lit("und")))
      })
    out.select(
      col("doc_id") +: col("lang_true") +: col("pred_lang") +:
        langs.map(l => col(s"score_$l")): _*)
      .orderBy("doc_id")
  }

  /** q25 — document fingerprint: md5 of the whitespace-normalized,
    * lower-cased text. */
  def fingerprint(documents: DataFrame): DataFrame =
    documents
      .select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " "))
          .as("fingerprint"))
      .orderBy("doc_id")

  /** q33 — combined corpus-cleaning pipeline (the pretraining-data
    * shape): keep documents that are (a) the keeper (min doc_id) of
    * their 5-token-prefix duplicate group, and (b) within quality
    * bounds (token count range, mean token length cap). One dedup
    * shuffle + map-side quality predicates — the whole filter is a
    * single pass at scale. */
  def corpusFilter(
      documents: DataFrame, minTokens: Int = 20, maxTokens: Int = 100,
      maxCharsPerToken: Double = 8.0): DataFrame = {
    val toks = tokens(col("text"))
    val keyed = documents.withColumn("pk",
      md5(concat_ws(" ", slice(toks, 1, 5))))
    val keepers = keyed.groupBy("pk")
      .agg(min("doc_id").as("doc_id"))
    keyed
      .join(keepers, Seq("pk", "doc_id"), "left_semi")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        round(col("n_chars") / size(toks).cast("double"), 4)
          .as("chars_per_token"))
      .filter(
        col("n_tokens").between(minTokens, maxTokens)
          && col("chars_per_token") < maxCharsPerToken)
      .orderBy("doc_id")
  }

  /** q34 — global token frequency top-k (vocabulary head): explode +
    * count + deterministic top-k (count desc, token asc). Partial
    * aggregation makes the explode map-side cheap; the top-k is a
    * TakeOrderedAndProject, not a full sort. */
  def topTokens(documents: DataFrame, k: Int = 20): DataFrame =
    documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** q74 — corpus-level lexical statistics per language: Shannon
    * entropy of the unigram distribution and type-token ratio. Uses
    * the identity H = ln N − (Σ n·ln n)/N so everything reduces to ONE
    * hash aggregate over (lang, token) counts followed by a |langs|-row
    * rollup — no per-token probability column, no second scan.
    * Vocabulary-richness / diversity gate for corpus curation. */
  def lexicalDiversity(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(sum("n").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("n").cast("double") * log(col("n"))).as("nlogn"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        round(log(col("n_tokens")) - col("nlogn") / col("n_tokens"), 4)
          .as("entropy"),
        round(col("n_types").cast("double") / col("n_tokens"), 4)
          .as("ttr"))
      .orderBy("lang")

  /** q86 — sliding-window document chunking: token windows of
    * `window` with stride `stride` (tail windows shorter, every token
    * covered) — the context-length packing step of an LLM training
    * pipeline. One explode over ceil(n/stride) chunk indexes per doc,
    * array `slice` per chunk; emits the chunk fingerprint rather than
    * the text so the result stays narrow (chunk-level dedup joins on
    * exactly this shape). */
  def chunkDocs(documents: DataFrame, window: Int = 50,
      stride: Int = 25): DataFrame = {
    val toks = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
    toks
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L),
          floor((col("n") + (stride - 1)) / stride).cast("long") - 1))
          .as("ci"))
      .select(col("doc_id"), col("ci"),
        slice(col("t"), (col("ci") * stride + 1).cast("int"),
          lit(window)).as("c"))
      .select(col("doc_id"), col("ci").as("chunk_id"),
        size(col("c")).cast("long").as("chunk_len"),
        md5(concat_ws(" ", col("c"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** q87 — Zipf rank-frequency fit: the head of the vocabulary (top
    * 200 tokens by count, deterministic tie-break) regressed as
    * ln(freq) on ln(rank); a healthy natural-language corpus slopes
    * near −1, so the single-row output is a drift/synthetic-text
    * detector. Bounded state: the regression sees only the top-k. */
  def zipfFit(documents: DataFrame, k: Int = 200): DataFrame = {
    val top = documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)
    top
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n").desc, col("token"))))
      .agg(count(lit(1)).as("n_tokens"),
        round(regr_slope(log(col("n")), log(col("rk"))), 4)
          .as("zipf_slope"),
        round(regr_r2(log(col("n")), log(col("rk"))), 4).as("r2"))
  }

  /** q90 — exact heavy hitters by two-pass pruning: a bounded-state
    * Misra–Gries aggregate ([[graft.functions.MisraGries]], `capacity`
    * counters total regardless of corpus size) yields a candidate set
    * guaranteed to contain every token with frequency > n/capacity;
    * the second pass exact-counts ONLY the ≤capacity candidates via a
    * broadcast semi-join and applies the threshold. Final output is
    * exact and deterministic even though the sketch isn't — candidate
    * noise is filtered by true counts, so the oracle is plain SQL. */
  def heavyHitters(documents: DataFrame, capacity: Int = 200)
      : DataFrame = {
    val toks = documents.select(explode(tokens(col("text"))).as("token"))
    val cand = toks
      .agg(graft.functions.MisraGries
        .mg_candidates(col("token"), capacity).as("cands"))
      .select(explode(col("cands")).as("token"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(cand), "token")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * capacity > col("n_total"))
      .select(col("token"), col("n"), col("n_total"))
      .orderBy(col("n").desc, col("token"))
  }

  /** THE q46 split rule, shared by every operator that partitions on
    * it ([[hashSplit]], [[corpusPipeline]],
    * [[Dedup.crossSplitContamination]]): 'train' iff the first md5
    * nibble of `text` < trainNibbles. One definition — the
    * train/test-audit consistency DedupSpec asserts depends on all
    * consumers using the same rule. */
  def splitOf(text: Column, trainNibbles: Int): Column = {
    val nibble = conv(substring(md5(text), 1, 1), 16, 10).cast("int")
    when(nibble < trainNibbles, lit("train")).otherwise(lit("test"))
  }

  /** q46 — deterministic hash-based train/test split: assignment is a
    * pure function of content (first md5 nibble), so it is stable
    * across runs, engines, and repartitioning — the reproducible-split
    * pattern pretraining pipelines use instead of `randomSplit` (whose
    * assignment depends on partitioning). 12/16 nibbles → train (75%),
    * rest → test. */
  def hashSplit(documents: DataFrame, trainNibbles: Int = 12): DataFrame =
    documents
      .select(col("doc_id"),
        splitOf(col("text"), trainNibbles).as("split"))
      .orderBy("doc_id")

  /** q53 — TF-IDF top terms per document: tf(d,t)·ln(N/df(t)), top-k
    * by weight. The distributed shape is three hash aggregates + one
    * equi-join + a broadcast of the single-row corpus count — df(t) is
    * the only cross-document state and it is token-keyed (shuffles by
    * token, never by document pair). Ranking uses the ROUNDED weight
    * with the token as tiebreak, so the top-k set is reproducible in
    * any engine with ln (weights are compared post-round). */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val toks = Spread(documents).select(
      col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n"))
    val weighted = tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4)
          .as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok").asc)
    weighted
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("doc_id", "rk")
  }

  /** q61 — bigram collocations by pointwise mutual information:
    * pmi(x,y) = ln(P(xy) / (P(x)·P(y))), bigram probabilities over the
    * bigram count, unigram probabilities over the token count. Counts
    * are two hash aggregates over exploded arrays (token-keyed
    * shuffles); the min-count filter shrinks the candidate set BEFORE
    * the unigram joins, and the corpus totals ride along as broadcast
    * single-row frames. Top-k by pmi with the bigram string as total
    * tiebreak. */
  def bigramPmi(
      documents: DataFrame, minCount: Int = 5, k: Int = 20): DataFrame = {
    val toks = Spread(documents).select(tokens(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("tok"))
    val unic = uni.groupBy("tok").agg(count(lit(1)).as("c"))
    // corpus totals without exploding: Σ|t| ≡ the unigram-row count,
    // Σ(|t|−1) ≡ the bigram-row count — one narrow aggregate each
    val nt = toks.agg(sum(size(col("t"))).cast("long").as("nt"))
    // adjacent pairs on the codegen window stream (explode positions,
    // top-level concat_ws over a 2-slice — Dedup.windowFingerprints
    // rationale; the old transform lambda evaluated interpreted).
    // Guard 1-token docs (sequence(1, 0) would DESCEND).
    val big = toks.filter(size(col("t")) >= 2)
      .select(col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(concat_ws(" ", slice(col("t"), col("i"), lit(2))).as("bg"))
    val bigc = big.groupBy("bg").agg(count(lit(1)).as("cxy"))
    val nb = toks.filter(size(col("t")) >= 2)
      .agg(sum(size(col("t")) - 1).cast("long").as("nb"))
    bigc.filter(col("cxy") >= minCount)
      .withColumn("x", split(col("bg"), " ")(0))
      .withColumn("y", split(col("bg"), " ")(1))
      .join(unic.withColumnRenamed("tok", "x").withColumnRenamed("c", "cx"),
        "x")
      .join(unic.withColumnRenamed("tok", "y").withColumnRenamed("c", "cy"),
        "y")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nt))
      .select(col("bg").as("bigram"), col("cxy").as("cnt"),
        round(log((col("cxy") / col("nb")) /
          ((col("cx") / col("nt")) * (col("cy") / col("nt")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(k)
  }

  /** q64 — weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * A-ES): each row draws u ∈ (0,1] deterministically from
    * md5(doc_id) and ranks by key = ln(u)/w (equivalent to u^(1/w));
    * the global top-k by key IS a weighted sample without replacement.
    * Importance-weighted corpus subsampling with zero RNG state: the
    * sample is reproducible across engines, retries, and partitionings.
    * The top-k plans as TakeOrderedAndProject (per-partition partial
    * top-k, driver merges k rows) — no global sort. Ranking uses the
    * ROUNDED key (q53 precedent) so order is engine-portable. */
  def weightedSample(
      documents: DataFrame, weightCol: String = "n_chars", k: Int = 50)
      : DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("double")
    val u = (h + lit(1.0)) / lit(4294967296.0) // (0,1]: h ∈ [0, 2³²−1]
    // + 0.0: same negative-zero fold as q141/q148 (u ≈ 1 makes the
    // ratio round to -0.0 at sf1), mirrored in the oracle
    val skey = round(log(u) / col(weightCol), 6) + lit(0.0)
    documents.filter(col(weightCol) > 0)
      .select(col("doc_id"), col("lang"),
        col(weightCol).cast("long").as(weightCol), skey.as("skey"))
      .orderBy(col("skey").desc, col("doc_id")).limit(k)
      .orderBy("doc_id")
  }

  /** q69 — the pretraining-ingest pipeline as ONE declarative plan:
    * exact dedup (keep smallest doc_id per content hash) → stopword
    * scoring → per-language median quality gate → deterministic
    * content-hash train/test split. Composes [[Relational.quantileDisc]]
    * and the [[hashSplit]] hashing; everything stays a single lazy
    * DataFrame, so Catalyst sees the whole pipeline at once (dedup's
    * semi-join and the gate's broadcast join plan together, the text
    * column prunes away after its two hashes are computed). The shape
    * every corpus ingest runs nightly — here it is one optimizable
    * plan instead of four materialized stages. */
  def corpusPipeline(
      documents: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "and"),
      gateQuantile: Double = 0.5, trainNibbles: Int = 12): DataFrame = {
    val keepers = documents
      .groupBy(md5(col("text")).as("__h")).agg(min("doc_id").as("doc_id"))
    val dedup = documents
      .join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
    val toks = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    val scored = dedup.select(
      col("doc_id"), col("lang"), col("text"),
      (size(filter(toks, t => array_contains(stopArr, t)))
        / size(toks).cast("double")).as("sw_ratio"))
    val thresh = Relational
      .quantileDisc(scored, "lang", "sw_ratio", Seq("p50" -> gateQuantile))
    scored.join(broadcast(thresh), "lang")
      .filter(col("sw_ratio") >= col("p50"))
      .select(col("doc_id"), col("lang"),
        round(col("sw_ratio"), 4).as("sw_ratio"),
        splitOf(col("text"), trainNibbles).as("split"))
      .orderBy("doc_id")
  }

  /** q163 — the ATTRITION FUNNEL of the q69 corpus pipeline: per
    * stage, documents in / out / dropped — the report an ingest
    * operator actually watches (a stage suddenly dropping 40% is the
    * first sign of a bad crawl or a broken filter, long before any
    * downstream metric moves). Stage semantics are IDENTICAL to
    * [[corpusPipeline]] (dedup keep-first → per-lang median stopword
    * gate → content-hash train split), derived as per-doc survival
    * FLAGS in one frame so the whole funnel is a single aggregate
    * pass over the corpus plus the same one keyed window + tiny
    * broadcast threshold join q69 already pays — counting the funnel
    * costs no more than running it. */
  def attritionFunnel(
      documents: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "and"),
      gateQuantile: Double = 0.5, trainNibbles: Int = 12): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    val hashW = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy("doc_id")
    val base = documents.select(
      col("doc_id"), col("lang"), col("text"),
      (size(filter(toks, t => array_contains(stopArr, t)))
        / size(toks).cast("double")).as("sw_ratio"))
      .withColumn("k1",
        when(row_number().over(hashW) === 1, 1L).otherwise(0L))
    val thresh = Relational.quantileDisc(
      base.filter(col("k1") === 1L), "lang", "sw_ratio",
      Seq("p50" -> gateQuantile))
    val flagged = base.join(broadcast(thresh), "lang")
      .withColumn("k2",
        when(col("k1") === 1L && col("sw_ratio") >= col("p50"), 1L)
          .otherwise(0L))
      .withColumn("k3",
        when(col("k2") === 1L &&
          splitOf(col("text"), trainNibbles) === "train", 1L)
          .otherwise(0L))
    val c = flagged.agg(
      count(lit(1)).as("n"), sum("k1").as("s1"),
      sum("k2").as("s2"), sum("k3").as("s3"))
    def row(stage: Int, name: String, in: Column, out: Column) =
      struct(lit(stage.toLong).as("stage"), lit(name).as("name"),
        in.as("docs_in"), out.as("docs_out"),
        (in - out).as("dropped"))
    c.select(explode(array(
        row(0, "raw", col("n"), col("n")),
        row(1, "exact_dedup", col("n"), col("s1")),
        row(2, "quality_gate", col("s1"), col("s2")),
        row(3, "train_split", col("s2"), col("s3")))).as("r"))
      .select("r.*")
      .orderBy("stage")
  }

  /** q164 — Unicode script-mix + mojibake detection: per document,
    * character counts per script class (Latin/Cyrillic/Han/Greek), the
    * U+FFFD replacement-character count (the mojibake signature every
    * bad-transcode leaves), and the dominant script under a fixed
    * deterministic priority — the multilingual-routing signal a
    * pretraining pipeline uses before language-ID (script is cheap
    * and unambiguous; langid within a script is the expensive step).
    * Pure codegen'd regexp_count projection riding the scan.
    *
    * Regex note: Spark (Java) spells script classes `\p{IsCyrillic}`,
    * DuckDB (RE2) spells them `\p{Cyrillic}` — different strings,
    * same Unicode script property, so the oracle uses the RE2
    * spelling (the one deliberate q150-discipline exception, cf.
    * Scrub's portability header).
    *
    * The fixture is ASCII word soup, so script snippets and mojibake
    * are planted from doc_id residues (the q150 construction). */
  def scriptMix(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val planted = concat(col("text"),
      when(id % 3 === 1, // privet (Cyrillic)
        lit(" \u043f\u0440\u0438\u0432\u0435\u0442"))
        .otherwise(lit("")),
      when(id % 3 === 2, // ni hao (Han)
        lit(" \u4f60\u597d")).otherwise(lit("")),
      when(id % 5 === 0, // alpha beta gamma (Greek)
        lit(" \u03b1\u03b2\u03b3")).otherwise(lit("")),
      when(id % 7 === 0, // U+FFFD replacement chars (mojibake)
        lit(" \ufffd\ufffd")).otherwise(lit("")))
    def cnt(re: String) = regexp_count(col("__t"), lit(re)).cast("long")
    documents.withColumn("__t", planted)
      .select(id,
        cnt("[A-Za-z]").as("n_latin"),
        cnt("\\p{IsCyrillic}").as("n_cyrillic"),
        cnt("\\p{IsHan}").as("n_han"),
        cnt("\\p{IsGreek}").as("n_greek"),
        cnt("\\ufffd").as("n_replacement"))
      .withColumn("main_script",
        when(col("n_latin") >= col("n_cyrillic") &&
          col("n_latin") >= col("n_han") &&
          col("n_latin") >= col("n_greek"), lit("latin"))
          .when(col("n_cyrillic") >= col("n_han") &&
            col("n_cyrillic") >= col("n_greek"), lit("cyrillic"))
          .when(col("n_han") >= col("n_greek"), lit("han"))
          .otherwise(lit("greek")))
      .orderBy("doc_id")
  }

  /** q68 — bigram language-model quality score: per document, the mean
    * log conditional probability ln(c(x,y)/c(x)) of its bigram stream
    * under the corpus's own MLE bigram model — the KenLM-perplexity
    * proxy pretraining pipelines use to rank/filter documents. Corpus
    * model = two token-keyed hash aggregates (shared shape with
    * [[bigramPmi]]); scoring joins each doc's bigrams to the counts
    * (token-keyed equi-joins, no pair blowup) and reduces per doc.
    * Higher = more typical text; gibberish scores far negative. */
  def lmScore(documents: DataFrame): DataFrame = {
    val toksDf = Spread(documents)
      .select(col("doc_id"), tokens(col("text")).as("t"))
    val unic = toksDf.select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    // bigram stream on the codegen window shape (explode positions,
    // top-level concat_ws over a 2-slice) — the old transform lambda
    // evaluated interpreted; same space-joined string domain
    val big = toksDf.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("t"), col("i"), lit(2))).as("bg"))
    val bigc = big.groupBy("bg").agg(count(lit(1)).as("cxy"))
    big.join(bigc, "bg")
      .withColumn("x", split(col("bg"), " ")(0))
      .join(unic.withColumnRenamed("tok", "x").withColumnRenamed("c", "cx"),
        "x")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("cxy") / col("cx"))), 4).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** q67 — higher-order array-function suite (§2.8 surface): filter /
    * transform / aggregate(fold) / slice over token arrays, all pure
    * codegen Column expressions (no UDFs). Fold inits are the
    * identities of their ops, matching DuckDB's init-less list_reduce
    * on non-empty lists. */
  def hofSuite(documents: DataFrame, limit: Int = 200): DataFrame = {
    val toks = tokens(col("text"))
    val lens = transform(toks, t => length(t).cast("long"))
    documents.select(
      col("doc_id"),
      size(filter(toks, t => length(t) > 4)).cast("long").as("long_toks"),
      aggregate(lens, lit(0L), (a, b) => a + b).as("char_sum"),
      aggregate(lens, lit(0L), (a, b) => greatest(a, b)).as("max_tok"),
      array_join(transform(slice(toks, 1, 3), t => upper(t)), "|")
        .as("head3"))
      .orderBy("doc_id")
      .limit(limit)
  }

  /** q63 — per-language quality gate: keep documents whose stopword
    * ratio clears the language's p75 (computed with the histogram-state
    * [[Relational.quantileDisc]] — no group buffering). The thresholds
    * frame is |languages| rows, broadcast back onto the corpus: the
    * pretraining-filter shape — score, per-stratum threshold, gate —
    * with one scan of the documents on each side. */
  def qualityGate(
      documents: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "and"),
      p: Double = 0.75): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    val scored = documents.select(
      col("doc_id"), col("lang"),
      (size(filter(toks, t => array_contains(stopArr, t)))
        / size(toks).cast("double")).as("sw_ratio"))
    val thresh = Relational
      .quantileDisc(scored, "lang", "sw_ratio", Seq("p75" -> p))
    scored.join(broadcast(thresh), "lang")
      .filter(col("sw_ratio") >= col("p75"))
      .select(col("doc_id"), col("lang"), round(col("sw_ratio"), 4)
        .as("sw_ratio"))
      .orderBy("doc_id")
  }

  /** q103 — boilerplate/template detection: documents within a source
    * that share the same leading k tokens (headers, footers, injected
    * site chrome — the C4/CCNet cleaning signal). One projection to the
    * prefix, one (source, prefix) hash aggregate; output bounded by
    * the number of repeated templates, never the corpus. At 100 TB the
    * prefix would be fingerprinted (xxhash64) before the shuffle; kept
    * as the string here so the report is directly readable. */
  def boilerplate(
      documents: DataFrame, k: Int = 3, minDocs: Int = 2): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .filter(size(toks) >= k)
      .select(col("source"), col("doc_id"),
        concat_ws(" ", slice(toks, 1, k)).as("prefix"))
      .groupBy("source", "prefix")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy("source", "prefix")
  }

  /** q105 — length-bucketed batch packing: assign documents to fixed-
    * size training batches within token-length buckets (the sequence-
    * packing prep that minimizes padding waste), and report per batch
    * the padding a naive unbucketed batcher would have paid.
    *
    * The within-bucket sequence number is computed with a TWO-LEVEL
    * rank — doc_id sub-ranges counted per (bucket, sub), cumulative
    * offsets broadcast, row_number only within (bucket, sub) — so no
    * window task ever sorts a whole bucket: at 100 TB a popular length
    * bucket holds billions of documents and a plain
    * `row_number() OVER (PARTITION BY bucket)` would be a single-task
    * sort. Same pattern as the exact-quantile cumulative histogram. */
  def lengthBatching(
      documents: DataFrame, bucketTokens: Int = 32,
      batchSize: Int = 16, subRange: Long = 1000): DataFrame = {
    val base = documents
      .select(col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"))
      .withColumn("bucket",
        floor(col("n_tokens") / lit(bucketTokens.toDouble)).cast("long"))
      .withColumn("sub", floor(col("doc_id") / lit(subRange.toDouble))
        .cast("long"))
    val subCounts = base.groupBy("bucket", "sub")
      .agg(count(lit(1)).as("c"))
    val wOff = Window.partitionBy("bucket").orderBy("sub")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = subCounts
      .withColumn("off", coalesce(sum("c").over(wOff), lit(0L)))
      .select("bucket", "sub", "off")
    val wSub = Window.partitionBy("bucket", "sub").orderBy("doc_id")
    base.join(broadcast(offsets), Seq("bucket", "sub"))
      .withColumn("rk",
        row_number().over(wSub).cast("long") + col("off") - 1)
      .withColumn("batch_id",
        floor(col("rk") / lit(batchSize.toDouble)).cast("long"))
      .groupBy("bucket", "batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max("n_tokens").cast("long").as("max_tokens"),
        sum("n_tokens").as("sum_tokens"))
      .withColumn("padded_waste",
        col("n_docs") * col("max_tokens") - col("sum_tokens"))
      .orderBy("bucket", "batch_id")
  }

  /** q106 — training-data mixture construction (the Pile/Dolma shape):
    * each source contributes documents up to a token budget, selected
    * in md5(doc_id) order — a deterministic, engine- and partitioning-
    * independent shuffle of the corpus, so re-runs and backfills pick
    * the identical subset. A document is included iff the budget is
    * not yet exhausted when it starts (cumulative tokens of its
    * predecessors < budget), which admits exactly one boundary-
    * crossing document per source. Per-source running totals partition
    * by source; the same two-level offset pattern as [[lengthBatching]]
    * applies when single sources outgrow a task. */
  def dataMixture(
      documents: DataFrame, budgetTokens: Long = 3000): DataFrame = {
    val base = documents.select(col("source"), col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      md5(col("doc_id").cast("string")).as("rkey"))
    val w = Window.partitionBy("source").orderBy("rkey", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("cum", sum("n_tokens").over(w))
      .filter(col("cum") - col("n_tokens") < budgetTokens)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("selected_tokens"))
      .orderBy("source")
  }

  /** q125 — document novelty: the fraction of a document's distinct
    * trigram shingles that NO earlier document (lower doc_id) contains
    * — the "contribution to corpus diversity" score used to prioritize
    * ingestion and detect template-flooded sources. One
    * groupBy(shingle) → min(owner) aggregate plus a join back: linear
    * in corpus shingle volume, the first-owner frame shuffles 8-byte
    * fingerprints. */
  def noveltyScores(documents: DataFrame, n: Int = 3): DataFrame = {
    // codegen'd window stream + shuffle-distinct (no transform
    // lambda — Dedup.windowFingerprints rationale); idx is distinct
    // per doc, so n_sh falls out of the final aggregate as count(1)
    val idx = Dedup.docWindowFingerprints(documents, n).distinct()
    val firstOwner = idx.groupBy("g").agg(min("doc_id").as("first_doc"))
    idx.join(firstOwner, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1L)
          .otherwise(0L)).as("novel"))
      .select(col("doc_id"), col("n_sh").as("n_shingles"),
        col("novel"),
        (col("novel").cast("double") / col("n_sh").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** q127 — temperature-sampled mixture allocation (the mT5/Gopher
    * "α-sampling" recipe): per-(lang, source) stratum weights ∝ n^α
    * with α = 1/2, a fixed document budget split by the largest-
    * remainder method so quotas are integers that sum EXACTLY to the
    * budget. Everything is exact integer arithmetic after one
    * deterministic `round(1e6·√n)` weight quantization (both engines
    * compute the same IEEE sqrt), so the allocation hash-matches the
    * DuckDB oracle: base = ⌊B·w/W⌋, and the B − Σbase leftover units
    * go to the largest remainders (stratum-key tie-break) via a
    * [[GlobalRank]] distributed rank — no unpartitioned window even at
    * millions of strata. */
  def temperatureMixture(
      documents: DataFrame, budget: Long = 100000L): DataFrame = {
    val strata = documents.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w",
        round(lit(1000000.0) * sqrt(col("n_docs"))).cast("long"))
    val tot = strata.agg(sum("w").as("tw"))
    val based = strata.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(${budget}L * w) div tw"))
      .withColumn("rem", expr(s"(${budget}L * w) % tw"))
    val leftover = based.agg((lit(budget) - sum("base")).as("leftover"))
    GlobalRank.rowNumber(based, -col("rem"),
        struct(col("lang"), col("source")), "rk")
      .crossJoin(broadcast(leftover))
      .select(col("lang"), col("source"), col("n_docs"),
        (col("base") +
          when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("quota"))
      .orderBy("lang", "source")
  }

  /** q217 — data-BUDGET forecast (the "data wall" table): for each
    * (lang, source) stratum under the q127 temperature mixture, how
    * long does the stratum last? `epochs_full` = whole sampling units
    * the stratum sustains before its documents must repeat
    * (n_docs div quota — the Chinchilla-style exhaustion horizon that
    * decides whether a mixture is trainable for the planned token
    * budget or silently becomes a repeat-heavy regime), plus the
    * stratum's exact token mass and an `overdraw_flag` for strata
    * whose per-unit quota already exceeds their size (repeats begin
    * INSIDE the first unit). Shares [[temperatureMixture]]'s
    * allocation chain verbatim — one definition, both gates, no
    * desync — so every derived column is exact integer arithmetic on
    * the same quotas q127 publishes.
    *
    * Scale: the allocation is the q127 GlobalRank chain; the token
    * mass is one (lang, source) hash-agg; the final join is
    * |strata| × |strata| broadcast — nothing here rescans the corpus
    * beyond the two aggregates. */
  def dataBudgetForecast(
      documents: DataFrame, budget: Long = 100000L): DataFrame = {
    val quotas = temperatureMixture(documents, budget)
    val toks = documents.groupBy("lang", "source")
      .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    quotas.join(broadcast(toks), Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("n_tokens"), col("quota"),
        when(col("quota") === 0L, lit(null).cast("long"))
          .otherwise(expr("n_docs div quota")).as("epochs_full"),
        when(col("quota") > col("n_docs"), 1L).otherwise(0L)
          .as("overdraw_flag"))
      .orderBy("lang", "source")
  }

  /** q220 — quality-signal AGREEMENT matrix: the pairwise Pearson
    * correlations between the four shipped per-document quality
    * signals (q212 character entropy, q23 chars-per-token and
    * stopword ratio, q211 loop fraction) — the datasheet table that
    * answers "are my filters measuring different things, or paying
    * for the same signal four times?" (highly correlated filters can
    * collapse to the cheapest one; anti-correlated ones partition the
    * failure modes). Signals enter EXACTLY as their own gates emit
    * them (same functions, same rounding, planting included), so the
    * corr inputs are cross-engine identical and only the aggregation
    * order varies — 6 dp rounding absorbs it (the q59 corr class).
    *
    * Scale: three doc-keyed signal passes (each linear, each already
    * individually gated) joined on doc_id, folded by Spark's
    * merge-able corr aggregator to ONE row — the join is the only
    * exchange beyond the signals' own. */
  def signalAgreement(documents: DataFrame): DataFrame = {
    val ent = charEntropy(documents).select("doc_id", "char_entropy")
    val qs = qualityScore(documents)
      .select(col("doc_id"), col("chars_per_token"),
        col("stopword_ratio"))
    val loop = gramLoopScore(documents).select("doc_id", "loop_frac")
    val joined = ent.join(qs, "doc_id").join(loop, "doc_id")
    val cols =
      Seq("char_entropy", "chars_per_token", "loop_frac",
        "stopword_ratio")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (x, y) =>
      round(corr(x, y), 6).as(s"__${x}__$y")
    }
    val stackArgs = pairs
      .map { case (x, y) => s"'$x', '$y', `__${x}__$y`" }.mkString(", ")
    joined.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${pairs.size}, $stackArgs) AS (x, y, r)")
      .orderBy("x", "y")
  }

  /** q221 — OOV-rate table: build the top-V corpus vocabulary (count
    * desc, token-string tie-break — fully deterministic) and report,
    * per source, the token and TYPE out-of-vocabulary rates — the
    * vocabulary-coverage audit run before freezing any fixed-vocab
    * tokenizer ("which sources does a V-token vocab tax?"; the
    * per-source companion to q204's fertility, which measures the
    * same risk AFTER choosing BPE). All counts exact integers, rates
    * single 4 dp divisions.
    *
    * Scale: one token hash-agg (corpus-linear), the vocabulary rank
    * via [[GlobalRank.rowNumber]] (|vocab| can reach 10⁸ on a web
    * corpus — no unpartitioned window), and a token-keyed LEFT join
    * back (no broadcast hint: the vocab side is corpus-derived, so
    * the planner/AQE decides — the PlanAudit broadcast rule by
    * construction). */
  def oovRate(documents: DataFrame, vocabSize: Long = 1000L): DataFrame = {
    val toks = documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("n"))
    val vocab = GlobalRank.rowNumber(counts, -col("n"), col("tok"), "rk")
      .filter(col("rk") <= vocabSize)
      .select(col("tok"), lit(1L).as("in_vocab"))
    val tagged = toks.join(vocab, Seq("tok"), "left")
      .select(col("source"), col("tok"),
        when(col("in_vocab").isNull, 1L).otherwise(0L).as("oov"))
    val tokenSide = tagged.groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), sum("oov").as("oov_tokens"))
    val typeSide = tagged.groupBy("source", "tok")
      .agg(max("oov").as("oov"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum("oov").as("oov_types"))
    tokenSide.join(typeSide, "source")
      .select(col("source"), col("n_tokens"), col("oov_tokens"),
        col("n_types"), col("oov_types"),
        round(col("oov_tokens").cast("double")
          / col("n_tokens").cast("double"), 4).as("oov_token_rate"),
        round(col("oov_types").cast("double")
          / col("n_types").cast("double"), 4).as("oov_type_rate"))
      .orderBy("source")
  }

  /** q222 — near-dup cluster QUALITY spread: for every q42 minhash
    * component, the within-cluster spread of the q212 character
    * entropy — clusters whose members disagree on quality are the
    * "boilerplate wrapper" class (one clean article + N
    * template-wrapped copies), exactly the clusters where canonical
    * selection (q85) changes training data quality and a blind
    * keep-first dedup destroys it. The spread and flag are EXACT
    * integers: the gate-proven 4 dp entropy is scaled to
    * `round(ent·10⁴)` BIGINT before min/max, so no float comparison
    * anywhere.
    *
    * Scale: the component frame is q42's O(log² n) star chain; the
    * entropy join is doc-keyed; the fold is one component-keyed
    * hash-agg with O(1) state. */
  def clusterQualitySpread(
      documents: DataFrame, flagSpread: Long = 5000L): DataFrame = {
    val ent = charEntropy(documents).select(col("doc_id"),
      round(col("char_entropy") * 10000).cast("long").as("ent_i"))
    Dedup.nearDupComponents(documents).join(ent, "doc_id")
      .groupBy("component")
      .agg(count(lit(1)).as("n_docs"),
        min("ent_i").as("min_ent_i"), max("ent_i").as("max_ent_i"))
      .select(col("component"), col("n_docs"), col("min_ent_i"),
        col("max_ent_i"),
        (col("max_ent_i") - col("min_ent_i")).as("spread_i"),
        when(col("max_ent_i") - col("min_ent_i") >= flagSpread, 1L)
          .otherwise(0L).as("divergent_flag"))
      .orderBy("component")
  }

  /** q223 — QUALITY-drift histogram JSD: each source's distribution
    * of per-document character entropy (the q212 signal, scaled to
    * 64 fixed buckets over [0, 8) bits) against the corpus
    * distribution, as a Jensen–Shannon divergence — the quality-drift
    * twin of q197's token-histogram drift (vocabulary drift and
    * quality drift move independently: a source can keep its
    * vocabulary while its extraction quality degrades — this is the
    * signal that catches a broken HTML-stripper upstream). Same
    * fixed-state posture and tail-mass closed form as q197: 64 longs
    * per source, never a corpus rescan once histograms are kept.
    *
    * Scale: the entropy pass is q212's; the fold is a
    * (source, bucket) hash-agg whose frame is ≤ 64·|sources| rows. */
  def entropyDrift(documents: DataFrame, buckets: Int = 64): DataFrame = {
    val ent = charEntropy(documents).select(col("doc_id"),
      round(col("char_entropy") * 10000).cast("long").as("ent_i"))
    val docSrc = documents.select(col("doc_id"), col("source"))
    val perSrc = ent.join(docSrc, "doc_id")
      .withColumn("bucket",
        least(expr(s"ent_i div ${80000L / buckets}"),
          lit(buckets.toLong - 1L)))
      .groupBy("source", "bucket").agg(count(lit(1)).as("c"))
    val srcTot = perSrc.groupBy("source").agg(sum("c").as("tot"))
    val corpus = perSrc.groupBy("bucket").agg(sum("c").as("cc"))
    val corpusTot = corpus.agg(sum("cc").as("ctot"))
    val joined = perSrc
      .join(broadcast(srcTot), "source")
      .join(corpus, "bucket")
      .crossJoin(broadcast(corpusTot))
      .select(col("source"),
        (col("c").cast("double") / col("tot").cast("double")).as("p"),
        (col("cc").cast("double") / col("ctot").cast("double")).as("q"))
    joined.groupBy("source")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("q")).as("sq"),
        sum(lit(0.5) * col("p")
            * log2(lit(2) * col("p") / (col("p") + col("q")))
          + lit(0.5) * col("q")
            * log2(lit(2) * col("q") / (col("p") + col("q"))))
          .as("core"))
      .join(broadcast(srcTot), "source")
      .select(col("source"), col("tot").as("n_docs"),
        col("n_buckets"),
        (round(col("core")
          + lit(0.5) * (lit(1.0) - col("sq")), 4) + lit(0.0))
          .as("jsd_vs_corpus"))
      .orderBy("source")
  }

  /** q149 — mixture materialization: SELECT the exact documents that
    * fill [[temperatureMixture]]'s per-stratum quotas — the step that
    * turns a mixture PLAN into a training corpus. Each (lang, source)
    * stratum is ranked by the md5 of the doc id (a deterministic,
    * engine-portable "random" order — no seed drift between runs or
    * engines) and truncated at its quota; strata smaller than their
    * quota contribute everything they have.
    *
    * Scale: the quota frame is |strata| rows (broadcast); selection
    * runs through the [[graft.plans.TopKPerKey]] bounded-heap plan node
    * with k = the LARGEST quota — a skewed mega-stratum holds k heap
    * slots per task instead of paying a full per-stratum sort for a
    * quota that is typically ≪ stratum size (partial heaps prune
    * map-side, the shuffle moves ≤ k·|strata| rows, same posture as
    * q105's length batching). The residual `row_number` window that
    * numbers rows within each stratum then runs over that pruned
    * ≤ k-per-stratum frame, not the corpus. Determinism: md5 rank +
    * doc_id tiebreak makes the selected SET hash-stable across
    * engines — the property Bernoulli `sampleBy` can never give an
    * oracle. */
  def mixtureSample(
      documents: DataFrame, budget: Long = 300L): DataFrame = {
    // the heap-sizing max is OBSERVED during the quota frame's own
    // checkpoint job instead of a separate agg().head() round trip
    // (round-16, guide §5 — the pageRank node-count pattern)
    val mObs = org.apache.spark.sql.Observation()
    val quotas = temperatureMixture(documents, budget)
      .select(col("lang"), col("source"), col("quota"))
      // one tiny driver-side reuse: the quota frame is |strata| rows
      // (broadcast below); its max sizes the bounded heaps
      .observe(mObs, max(col("quota")).as("mq"))
      .localCheckpoint(true)
    // max over an EMPTY quota frame observes as NULL — read through
    // Option so an empty corpus yields an empty sample, not an NPE.
    // The Int.MaxValue clamp bounds the heap size: a budget where one
    // stratum's quota exceeds 2³¹ would silently degrade to "keep all",
    // which at that scale is the only sane fallback anyway (documented
    // in BASELINE.md).
    val maxQuota = Option(scala.concurrent.Await.result(mObs.future,
        scala.concurrent.duration.Duration(300, "s"))
        .getAs[java.lang.Long]("mq")).map(_.longValue).getOrElse(0L)
    val ranked = graft.plans.TopKPerKey.topK(
      documents
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("h", md5(col("doc_id").cast("string"))),
      Seq("lang", "source"), Seq(col("h"), col("doc_id")),
      k = math.max(1L, maxQuota).min(Int.MaxValue.toLong).toInt)
    val w = Window.partitionBy("lang", "source")
      .orderBy(col("h"), col("doc_id"))
    ranked
      .withColumn("rn", row_number().over(w))
      .join(broadcast(quotas), Seq("lang", "source"))
      .filter(col("rn") <= col("quota"))
      .select(col("lang"), col("source"), col("doc_id"))
      .orderBy("doc_id")
  }

  /** q126 — vocabulary growth curve (the empirical Heaps-law input):
    * cumulative distinct-token count as the corpus is read in doc_id
    * order, one row per document that introduces new tokens. Running
    * count-distinct is rewritten as "tokens first seen per doc" (one
    * aggregate) + a [[GlobalRank.cumSum]] distributed prefix sum over
    * the first-seen frame — no quadratic re-scan, and no unpartitioned
    * window even though that frame can reach min(|vocab|, |docs|) rows
    * (~10⁸ on a web corpus). */
  def vocabGrowth(documents: DataFrame): DataFrame = {
    val firstSeen = documents
      .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
        .as("tok"))
      .groupBy("tok").agg(min("doc_id").as("first_doc"))
      .groupBy("first_doc").agg(count(lit(1)).as("new_tokens"))
    GlobalRank.cumSum(firstSeen, col("first_doc"), col("first_doc"),
        col("new_tokens"), "vocab")
      .select(col("first_doc").as("doc_id"), col("new_tokens"),
        col("vocab"))
      .orderBy("doc_id")
  }

  /** q94 — Gopher-style repetition quality filters (Rae et al. 2021
    * §A1.1 re-expressed over whitespace tokens): per document, the
    * most-common-token ratio, top-bigram fraction, and duplicate-
    * trigram mass, plus the keep/drop gate those thresholds imply.
    *
    * Shape: the statistics are PER-DOCUMENT, so the problem contains
    * no cross-row aggregation — the native codegen expression
    * [[graft.functions.GramRepetitionStats]] computes all three
    * counts in one JIT'd O(n) pass inside each row, and the query is
    * scan → project: embarrassingly parallel, ZERO exchanges except
    * the report sort. Two prior formulations both paid a corpus-wide
    * shuffle of ~3 gram rows per token into a (doc, kind, gram) hash
    * aggregate and measured 13.9 s (interpreted transform lambdas)
    * and 8.8 s (codegen explode+inline window stream — generation
    * fixed, the gram shuffle remained the floor) at sf1; the per-doc
    * expression removes the shuffle itself. Deliberately NOT the
    * per-row nested-loop `filter(grams, g -> g = x)` HOF form, which
    * is O(len²) per document — the expression's local maps are O(n). */
  def repetitionStats(
      documents: DataFrame,
      maxTokenFrac: Double = 0.20,
      maxBigramFrac: Double = 0.18,
      maxDupTrigramFrac: Double = 0.30): DataFrame = {
    documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") >= 3)
      .select(col("doc_id"), col("n"),
        graft.functions.TextFunctions.gram_repetition_stats(col("t"))
          .as("s"))
      .select(
        col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        col("s.top_tok").as("top_tok"),
        col("s.top_bi").as("top_bi"),
        col("s.tri_dist").as("tri_dist"),
        col("s.tri_tot").as("tri_tot"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("top_tok").cast("double") / col("n_tokens").cast("double"))
          .as("top_token_frac"),
        (col("top_bi").cast("double") /
          (col("n_tokens") - 1).cast("double")).as("top_bigram_frac"),
        ((col("tri_tot") - col("tri_dist")).cast("double") /
          col("tri_tot").cast("double")).as("dup_trigram_frac"))
      .withColumn("keep",
        (col("top_token_frac") <= maxTokenFrac &&
          col("top_bigram_frac") <= maxBigramFrac &&
          col("dup_trigram_frac") <= maxDupTrigramFrac)
          .cast("long"))
      .orderBy("doc_id")
  }

  /** q130 — BM25 full-text retrieval: top-`k` documents per query term
    * (Robertson–Spärck Jones idf, the `ln(1 + (N−df+0.5)/(df+0.5))`
    * non-negative variant), the sparse-retrieval baseline every RAG /
    * training-data pipeline keeps next to its ANN index.
    *
    * Scale design: the only corpus-wide pass is the token explode,
    * FILTERED to the query vocabulary immediately after the generator
    * (rows ∝ query-term occurrences, not corpus tokens); doc lengths
    * come from `size(split(..))` WITHOUT exploding; df (|terms| rows)
    * and the 1-row (N, avgdl) aggregate join back as broadcasts; the
    * final per-term top-k runs on the bounded-heap
    * [[graft.plans.TopKPerKey]] plan node — no window sort anywhere.
    *
    * Determinism: scores are doubles, but selection and ranking within
    * a term are idf-independent (idf is a per-term positive constant
    * factor) and the remaining arithmetic maps integers through the
    * IDENTICAL expression tree on both engines; emitted scores are
    * rounded to 4 decimals, the repo's float-output discipline. */
  def bm25TopK(
      documents: DataFrame, terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: at least one query term")
    val dl = documents.select(
      col("doc_id"), size(tokens(col("text"))).as("dl"))
    // always exactly one row: agg without groupBy never returns empty
    val stats = dl.agg(
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n"))
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(dl, "doc_id")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
    graft.plans.TopKPerKey
      .topK(scored, Seq("term"),
        Seq(col("score").desc, col("doc_id").asc), k)
      .select(col("term"), col("doc_id"),
        round(col("score"), 4).as("score_r"))
      .orderBy(col("term"), col("score_r").desc, col("doc_id"))
  }

  /** q141 — DSIR-style importance weighting (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS'23): score every document by how much more likely its
    * hashed-unigram bag is under the TARGET distribution (the
    * `lang = targetLang` slice stands in for the high-quality target
    * corpus) than under the RAW corpus, and keep the top-k by
    * log-weight — the data-selection front door of a pretraining
    * pipeline. Features are md5-hashed token buckets (engine-portable,
    * the repo's standard hash); both bag-of-words models are add-one
    * smoothed over the `buckets` feature space.
    *
    * Scale design: ONE corpus-wide token explode feeds everything; the
    * two bucket-count models collapse to ≤`buckets` rows and the token
    * totals to one row, so per-token scoring is a broadcast join; the
    * per-doc weight is one hash aggregation. Top-k membership compares
    * against the k-th (weight, doc_id) pair — two
    * TakeOrderedAndProject passes and a broadcast of a single row,
    * never a global window sort (the DuckDB oracle uses the O(n log n)
    * `row_number()` form the Spark plan deliberately avoids).
    *
    * Determinism: log-ratios of exact integer counts through the same
    * expression tree on both engines; per-doc sums are rounded to 4
    * decimals BEFORE the threshold comparison, ties broken on doc_id —
    * the selected set is engine-exact. (DSIR's Gumbel-noise resampling
    * step is deliberately omitted: it exists to de-duplicate the
    * selected set's modes, is not reproducible cross-engine, and the
    * deterministic top-k is the standard ablation baseline.) */
  def dsirWeights(
      documents: DataFrame, targetLang: String = "en",
      buckets: Int = 256, k: Int = 150): DataFrame = {
    val tok = documents.select(
        col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("tok"))
      .withColumn("b",
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
          % buckets)
    // round-16 (guide §1.2/§2.4): the raw and target bucket counts are
    // ONE aggregate over ONE token explode — the old two-aggregate +
    // left-join shape re-ran the corpus-wide explode+md5 pass twice
    // and paid a third exchange for the join. count(when(...)) over
    // the same rows equals the old filtered count with na.fill(0)
    val model = tok.groupBy("b").agg(
      count(lit(1)).as("cr"),
      count(when(col("lang") === targetLang, 1)).as("ct"))
    // one row, always present (agg without groupBy)
    val totals = model.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    val llr = model.crossJoin(broadcast(totals)).select(
      col("b"),
      (log((col("ct") + 1).cast("double") / (col("nt") + buckets)) -
        log((col("cr") + 1).cast("double") / (col("nr") + buckets)))
        .as("llr"))
    val perDoc = tok.join(broadcast(llr), "b")
      .groupBy("doc_id")
      // + 0.0 folds IEEE negative zero (a tiny negative sum that
      // rounds to -0.0 — surfaces at sf1) into +0.0; oracle mirrored
      .agg(count(lit(1)).as("n_tok"),
        (round(sum("llr"), 4) + lit(0.0)).as("logw"))
      // one row per doc; three consumers below (two TakeOrdered passes
      // for the k-th threshold + the final projection) each re-ran the
      // full explode+score lineage before this truncation (round-16)
      .localCheckpoint(true)
    // the k-th row of (logw desc, doc_id asc): bounded heaps, no sort
    val kth = perDoc
      .orderBy(col("logw").desc, col("doc_id")).limit(k)
      .orderBy(col("logw").asc, col("doc_id").desc).limit(1)
      .select(col("logw").as("thr_w"), col("doc_id").as("thr_d"))
    perDoc.crossJoin(broadcast(kth))
      .select(col("doc_id"), col("n_tok"), col("logw"),
        (col("logw") > col("thr_w") ||
          (col("logw") === col("thr_w") && col("doc_id") <= col("thr_d")))
          .cast("int").as("selected"))
      .orderBy("doc_id")
  }

  /** q156 — deterministic global shuffle + token-balanced contiguous
    * sharding: the "shuffle the corpus, write N shards" step every
    * training pipeline runs last. Shuffle order is md5(doc_id||salt)
    * — a seeded, engine-portable permutation (no RNG, so the oracle
    * replays it exactly); a shard is a CONTIGUOUS span of that order,
    * with boundaries placed by the distributed running sum of token
    * counts ([[GlobalRank.cumSum]] — no unpartitioned window) so
    * shards balance by TOKEN MASS, not doc count (docs vary 10×+ in
    * length; doc-count-balanced shards skew what the trainer actually
    * consumes). shard = floor(tokens_before · N / total), clamped.
    *
    * Scale: the cumsum is the two-level GlobalRank shape (256-way
    * bucketed, broadcast offsets); the in-shard position window is
    * keyed by shard — in production N is sized so a shard is one
    * trainer file (1–4 GB ⇒ thousands of shards at 100 TB), which
    * bounds every per-shard task at ~corpus/N exactly like any
    * range-partitioned sort. Integer-exact: hash, token counts, and
    * boundary arithmetic are all integral (the one division is exact
    * in double far beyond 2^53 … total·N fits 2^63 up to ~10^14
    * tokens · 8 shards). */
  def shuffleShards(
      documents: DataFrame, nShards: Int = 8,
      salt: String = "shard"): DataFrame = {
    val h = conv(substring(md5(concat(
      col("doc_id").cast("string"), lit(":" + salt))), 1, 8), 16, 10)
      .cast("long")
    val base = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      h.as("hkey"))
    val withCum = GlobalRank.cumSum(
      base, col("hkey"), col("doc_id"), col("n_tokens"), "cum_tokens")
    val total = base.agg(sum("n_tokens").as("__tot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("hkey", "doc_id")
    withCum.crossJoin(broadcast(total))
      .withColumn("shard", least(
        floor((col("cum_tokens") - col("n_tokens"))
          * nShards / col("__tot")),
        lit(nShards - 1L)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"))
      .orderBy("doc_id")
  }

  /** q199 — dedup-adjusted mixture: the temperature-mixture quotas
    * (q127) recomputed AFTER near-dup canonicalization, with the
    * per-stratum shift — closing the loop q85 and q127 leave open:
    * dedup changes stratum sizes (boilerplate-heavy sources lose the
    * most), and a mixture planned on pre-dedup counts silently
    * over-allocates exactly the strata dedup shrinks. Per (lang,
    * source): doc counts and quotas before/after, and the quota
    * shift.
    *
    * Composition, not new machinery: ONE [[Dedup.nearDupComponents]]
    * pass (the q42 star components), the q85 keeper rule (max
    * n_chars, min doc_id tie) inlined so components are not derived
    * twice, a left-anti join to the kept corpus, and
    * [[temperatureMixture]] over both frames joined on the stratum
    * key (left join + coalesce 0: a stratum dedup empties must
    * surface as quota_after = 0, not vanish). Scale posture is the
    * components'/mixture's own — nothing here adds a shuffle beyond
    * the |strata|-row joins. */
  def dedupAdjustedMixture(
      documents: DataFrame, budget: Long = 100000L): DataFrame = {
    val comp = Dedup.nearDupComponents(documents)
    val keepers = comp
      .join(documents.select("doc_id", "n_chars"), "doc_id")
      .groupBy("component")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
        .as("best"))
      .select((-col("best.neg_id")).as("doc_id"),
        lit(1).as("keep"))
    val dropIds = comp.select("doc_id")
      .join(keepers, Seq("doc_id"), "left")
      .filter(col("keep").isNull).select("doc_id")
    val kept = documents.join(dropIds, Seq("doc_id"), "left_anti")
    val before = temperatureMixture(documents, budget)
      .select(col("lang"), col("source"),
        col("n_docs").as("n_before"), col("quota").as("quota_before"))
    val after = temperatureMixture(kept, budget)
      .select(col("lang"), col("source"),
        col("n_docs").as("n_after"), col("quota").as("quota_after"))
    before.join(after, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        col("quota_before"),
        coalesce(col("quota_after"), lit(0L)).as("quota_after"),
        (coalesce(col("quota_after"), lit(0L)) - col("quota_before"))
          .as("quota_shift"))
      .orderBy("lang", "source")
  }

  /** q198 — shard homogeneity audit: per training shard of
    * [[shuffleShards]], the composition statistics a trainer checks
    * before treating shards as exchangeable — doc/token volume,
    * distinct sources, the dominant language with its share, and the
    * language entropy (log2). Shards are supposed to be iid slices of
    * the corpus mix; a shard whose dominant-language share spikes (or
    * whose entropy collapses) breaks the "any shard ≈ the corpus"
    * assumption that data-parallel training and the q196 interleave
    * both rest on. Rides the EXACT q156 shard spans (same hash, same
    * boundary arithmetic — this audit and the shard writer cannot
    * disagree about membership); one doc-keyed equi-join to bring in
    * (lang, source), then two |shards|-keyed hash aggregates. Counts
    * exact integers; the entropy is a ≤|langs|-term sum, 4 dp, with
    * the −0.0 fold (a single-language shard sums to −0.0). */
  def shardHomogeneity(
      documents: DataFrame, nShards: Int = 8): DataFrame = {
    val assigned = shuffleShards(documents, nShards)
      .join(documents.select("doc_id", "lang", "source"), "doc_id")
    val perShard = assigned.groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      countDistinct(col("source")).as("n_sources"))
    val perLang = assigned.groupBy("shard", "lang")
      .agg(count(lit(1)).as("c"))
    val langStats = perLang
      .join(perShard.select("shard", "n_docs"), "shard")
      .groupBy("shard").agg(
        max(struct(col("c"), col("lang"))).as("dom"),
        (round(-sum((col("c").cast("double") / col("n_docs"))
          * log2(col("c").cast("double") / col("n_docs"))), 4)
          + lit(0.0)).as("lang_entropy"))
    perShard.join(langStats, "shard")
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("n_sources"),
        col("dom").getField("lang").as("dominant_lang"),
        round(col("dom").getField("c").cast("double") / col("n_docs"),
          6).as("dominant_frac"),
        col("lang_entropy"))
      .orderBy("shard")
  }

  /** q184 — training-sequence packing accounting: the step AFTER
    * sharding that every trainer runs — concatenate documents in the
    * deterministic md5 shuffle order and chunk the token stream into
    * fixed `seqLen`-token sequences (the GPT/LLaMA concatenate-then-
    * chunk packing; a document crossing a boundary is split, nothing
    * is padded except the final sequence). Per document: which
    * sequences it lands in (`start_seq`/`end_seq`), how many it spans,
    * and its offset inside its first sequence — all pure integer
    * functions of the distributed running token sum, so packing needs
    * NO sequential first-fit pass and no unpartitioned window
    * ([[GlobalRank.cumSum]], the q156 discipline). A doc spanning
    * >2 sequences is len/seqLen chunks of pure self-content — the
    * packing-efficiency statistics (boundary splits, final-sequence
    * fill) read off this frame with one aggregate. */
  def sequencePacking(
      documents: DataFrame, seqLen: Long = 512L,
      salt: String = "shard"): DataFrame = {
    require(seqLen > 0, "sequencePacking: seqLen must be positive")
    val h = conv(substring(md5(concat(
      col("doc_id").cast("string"), lit(":" + salt))), 1, 8), 16, 10)
      .cast("long")
    val base = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      h.as("hkey"))
    val withCum = GlobalRank.cumSum(
      base, col("hkey"), col("doc_id"), col("n_tokens"), "cum_tokens")
    withCum
      .withColumn("__s", col("cum_tokens") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("__s") / seqLen).as("start_seq"),
        floor((col("cum_tokens") - 1) / seqLen).as("end_seq"),
        (floor((col("cum_tokens") - 1) / seqLen)
          - floor(col("__s") / seqLen) + 1L).as("seqs_spanned"),
        pmod(col("__s"), lit(seqLen)).as("seq_offset"))
      .orderBy("doc_id")
  }

  /** q185 — epoch repeat-factor mixture: [[mixtureSample]]'s selection
    * generalized to budgets LARGER than a stratum (the LLaMA/"data
    * recipe" regime where high-value sources are repeated for multiple
    * epochs): stratum quota q over n docs gives every doc
    * `q div n` full epochs plus one extra for the q mod n docs
    * ranked first in the deterministic md5 order — total repeats per
    * stratum is EXACTLY its quota, and the output is the per-doc
    * repeat count (0 permitted: below-selection docs are part of the
    * accounting). The per-stratum rank rides [[GlobalRank.cumSumBy]]
    * (running count of 1s per (lang, source) over the 32-bit md5 key
    * — the q64 portable mapping), NOT a raw enum-partitioned window:
    * lang×source cardinality is fixed while strata grow with the
    * corpus, exactly the hazard class
    * [[graft.plans.PlanAudit.lowCardPartitionWindowHazards]] flags. */
  def epochMixture(
      documents: DataFrame, budget: Long = 1200L): DataFrame = {
    val quotas = temperatureMixture(documents, budget)
      .select(col("lang"), col("source"), col("n_docs"), col("quota"))
    val h = conv(substring(md5(concat(
      col("doc_id").cast("string"), lit(":epoch"))), 1, 8), 16, 10)
      .cast("long")
    val ranked = GlobalRank.cumSumBy(
      documents.select(col("doc_id"), col("lang"), col("source"))
        .withColumn("hkey", h),
      Seq("lang", "source"), col("hkey"), col("doc_id"),
      Seq((lit(1L), "rn")))
    ranked
      .join(broadcast(quotas), Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"),
        ((col("quota") / col("n_docs")).cast("long")
          + when(col("rn") <= pmod(col("quota"), col("n_docs")), 1L)
            .otherwise(0L)).as("n_repeats"))
      .orderBy("doc_id")
  }

  /** q188 — token-budget quality curation: the greedy "best docs until
    * the budget is spent" selection every data-constrained training
    * run makes (quality-annealed curation): rank the corpus by an
    * integer quality score (mean chars-per-token ×1000, clamped below
    * 2^20 so the composite sort key stays double-exact) descending
    * with the deterministic md5 shuffle breaking ties, keep documents
    * while the running token sum fits `budgetNum/budgetDen` of the
    * corpus total, and split the kept prefix into `phases` equal-token
    * curriculum phases (phase 1 = highest quality — the annealing
    * schedule reads off this column).
    *
    * The running sum is [[GlobalRank.cumSum]] over the single
    * composite key (score desc, hash asc) — no unpartitioned window,
    * no driver-side greedy loop; kept/phase are pure integer
    * functions of (cum, budget) via SQL `div`, exact at any corpus
    * size (no float division anywhere) — hence the full hash oracle
    * (q188). Greedy maximality, the min-kept ≥ max-dropped score
    * invariant, and the equal-token phase split are pinned in
    * TextSpec. */
  def qualityBudgetCuration(
      documents: DataFrame, budgetNum: Long = 2L, budgetDen: Long = 5L,
      phases: Int = 3, salt: String = "curate"): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0 && phases > 0)
    val bound = 1048575L // 2^20 - 1: (bound+1) * 2^32 < 2^53
    val h = conv(substring(md5(concat(
      col("doc_id").cast("string"), lit(":" + salt))), 1, 8), 16, 10)
      .cast("long")
    val base = documents.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars").cast("long").as("n_chars"),
        h.as("hkey"))
      .withColumn("score",
        least(expr("n_chars * 1000 div n_tokens"), lit(bound)))
    val ord = (lit(bound + 1L) - col("score")) * lit(4294967296L) +
      col("hkey")
    val withCum = GlobalRank.cumSum(
      base, ord, col("doc_id"), col("n_tokens"), "cum_tokens")
    val total = base.agg(sum(col("n_tokens")).as("__total"))
    withCum
      .crossJoin(broadcast(total))
      .withColumn("__budget",
        expr(s"__total * $budgetNum div $budgetDen"))
      .withColumn("kept",
        when(col("cum_tokens") <= col("__budget"), 1L).otherwise(0L))
      .withColumn("phase",
        when(col("kept") === 1L,
          expr(s"(cum_tokens - 1) * $phases div __budget") + 1L)
          .otherwise(0L))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        col("cum_tokens"), col("kept"), col("phase"))
      .orderBy("doc_id")
  }

  /** q187 — per-sequence pack composition: [[sequencePacking]] flipped
    * from the document axis to the SEQUENCE axis — for every packed
    * training sequence, how many documents compose it, how many of
    * them are boundary-split fragments, and the cross-document
    * attention-contamination fraction (share of within-sequence token
    * pairs drawn from DIFFERENT documents — the statistic packing
    * papers use to justify attention-mask resets: with t_d tokens of
    * doc d in a T-token sequence, cross = 1 − Σ t_d(t_d−1)/(T(T−1))).
    *
    * Each doc explodes to its `seqs_spanned` overlap rows (linear in
    * total tokens / seqLen, never doc × doc), overlaps are pure
    * integer interval arithmetic off the same global prefix sum, and
    * one hash-agg per sequence finishes the job — no windows at all.
    * All columns are exact integers except the rounded fraction. */
  def packComposition(
      documents: DataFrame, seqLen: Long = 512L,
      salt: String = "shard"): DataFrame = {
    val spans = sequencePacking(documents, seqLen, salt)
      .withColumn("gstart",
        col("start_seq") * seqLen + col("seq_offset"))
      .withColumn("gend", col("gstart") + col("n_tokens"))
      .withColumn("seq_id",
        explode(sequence(col("start_seq"), col("end_seq"))))
      .withColumn("t",
        least(col("gend"), (col("seq_id") + 1L) * seqLen)
          - greatest(col("gstart"), col("seq_id") * seqLen))
    spans.groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("t").as("n_tokens"),
        sum(when(col("seqs_spanned") > 1, 1L).otherwise(0L))
          .as("n_split_docs"),
        sum(col("t") * (col("t") - 1L)).as("__same2"))
      .withColumn("cross_pair_frac",
        when(col("n_tokens") > 1,
          round(lit(1.0) - col("__same2").cast("double")
            / (col("n_tokens") * (col("n_tokens") - 1L)).cast("double"),
            6))
          .otherwise(lit(0.0)))
      .select(col("seq_id"), col("n_docs"), col("n_tokens"),
        col("n_split_docs"), col("cross_pair_frac"))
      .orderBy("seq_id")
  }

  /** q209 — stratified eval holdout with EXACT budget: allocate a
    * `budget`-document holdout across (lang, source) strata by the
    * largest-remainder (Hamilton) method — base quota
    * `budget·n_s div N` per stratum plus one extra for the K strata
    * with the largest remainders (K = budget − Σ base; remainder ties
    * break on the stratum key), then select exactly quota docs per
    * stratum in the deterministic md5 order. The allocation sums to
    * EXACTLY the budget (the property proportional rounding lacks)
    * and every step is integer arithmetic — full hash oracle.
    *
    * Scale: the stratum frame is |langs×sources| rows; its remainder
    * ranking rides [[GlobalRank.cumSum]] (no unpartitioned window,
    * even over the small frame — the audit discipline), quotas
    * broadcast, and the per-stratum doc rank is
    * [[GlobalRank.cumSumBy]] over the md5 key (the q185 form). */
  def stratifiedHoldout(
      documents: DataFrame, budget: Long = 100L,
      salt: String = "holdout"): DataFrame = {
    require(budget > 0, "stratifiedHoldout: budget must be positive")
    val strata = documents.groupBy("lang", "source")
      .agg(count(lit(1)).as("n"))
    val total = strata.agg(sum("n").as("__N"))
    val q0 = strata.crossJoin(broadcast(total))
      .withColumn("base", expr(s"($budget * n) div __N"))
      .withColumn("rem", expr(s"($budget * n) % __N"))
    val kRow = q0.agg((lit(budget) - sum("base")).as("__K"))
    // remainder rank: largest remainder first, stratum key breaking
    // ties — a |strata|-row frame, still ranked the no-window way
    val ranked = GlobalRank.cumSum(
      q0, -col("rem"), concat_ws("|", col("lang"), col("source")),
      lit(1L), "srank")
    val quotas = ranked.crossJoin(broadcast(kRow))
      .select(col("lang"), col("source"),
        (col("base") + when(col("srank") <= col("__K"), 1L)
          .otherwise(0L)).as("quota"))
    val h = conv(substring(md5(concat(
      col("doc_id").cast("string"), lit(":" + salt))), 1, 8), 16, 10)
      .cast("long")
    val rankedDocs = GlobalRank.cumSumBy(
      documents.select(col("doc_id"), col("lang"), col("source"))
        .withColumn("hkey", h),
      Seq("lang", "source"), col("hkey"), col("doc_id"),
      Seq((lit(1L), "rn")))
    rankedDocs.join(broadcast(quotas), Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("rn").as("stratum_rank"),
        when(col("rn") <= col("quota"), 1L).otherwise(0L).as("holdout"))
      .orderBy("doc_id")
  }

  /** q210 — gram NOVELTY curve: is the crawl saturating? Chunk the
    * corpus into 10 deciles in doc_id (arrival) order and report, per
    * decile, how many distinct 3-gram types it contains and what
    * fraction of them are NEW — first seen in that decile. The
    * gram-level companion to q126's token vocabulary growth: token
    * vocab saturates long before PHRASE novelty does, and a flat
    * near-zero tail here is the "stop crawling this source" signal.
    *
    * Scale: grams travel as 8-byte xxhash64 fingerprints (the Broder
    * tradeoff, string-exact up to 2⁻⁶⁴ collisions); two hash-aggs
    * (distinct (decile, g), then min-decile per g) and a fingerprint
    * join — linear in shingle volume, output exactly 10 rows. */
  def gramNoveltyCurve(
      documents: DataFrame, deciles: Int = 10): DataFrame = {
    val mx = documents.agg(max("doc_id").as("__m"))
    val per = Dedup.docWindowFingerprints(documents, 3)
      .crossJoin(broadcast(mx))
      .select(
        least(expr(s"(doc_id * $deciles) div (__m + 1)"),
          lit(deciles - 1).cast("long")).as("decile"),
        col("g"))
      .distinct()
    val firstSeen = per.groupBy("g").agg(min("decile").as("fd"))
    per.join(firstSeen, "g")
      .groupBy("decile")
      .agg(count(lit(1)).as("distinct_grams"),
        sum(when(col("fd") === col("decile"), 1L).otherwise(0L))
          .as("new_grams"))
      .select(col("decile"), col("distinct_grams"), col("new_grams"),
        round(col("new_grams").cast("double")
          / col("distinct_grams").cast("double"), 4).as("novelty"))
      .orderBy("decile")
  }

  /** q211 — n-gram LOOP score: the within-document degeneration
    * signal (model-generated or templated text loops — the same
    * 4-gram recurring many times inside ONE document; q94's
    * repetition ratios see token-level echo, this sees PHRASE loops).
    * Per document: total gram positions, the highest repeat count of
    * any single gram, that gram (lexicographic min among maximal — a
    * deterministic argmax), the loop fraction, and the ≥ flagRep
    * flag. Because the synthetic fixture's prose never repeats a
    * 4-gram more than twice, loops are PLANTED deterministically
    * (doc_id % plantMod gets its own first 8 tokens appended three
    * times — the q202 scale-covariant planting convention), so the
    * flag class is non-vacuous at every scale and the oracle
    * reproduces it.
    *
    * Scale: the statistics are PER-DOCUMENT, so the problem contains
    * no cross-row aggregation — the native codegen expression
    * [[graft.functions.GramLoopStats]] computes window count, max
    * repetition, and the UTF-8-min argmax gram in one JIT'd O(len·n)
    * pass inside each row, and the query is scan → project with zero
    * exchanges before the report sort (the q94 GramRepetitionStats
    * precedent; the prior (doc, gram) hash-aggregate + argmax-join
    * chain paid two corpus-wide exchanges and a text re-join). */
  def gramLoopScore(
      documents: DataFrame, n: Int = 4, plantMod: Int = 31,
      flagRep: Long = 3L): DataFrame = {
    val t = split(col("text"), " ")
    val block = concat_ws(" ", slice(t, 1, 8))
    val planted = documents.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(plantMod)) === 0,
        concat_ws(" ", col("text"), block, block, block))
        .otherwise(col("text")).as("text"))
    // per-document statistics → per-row native expression (the q94
    // GramRepetitionStats precedent): the previous (doc, gram) hash
    // aggregate + argmax-join chain paid two corpus-wide exchanges and
    // a join back through the planted text to recover the gram string;
    // gram_loop_stats computes window count, max repetition, and the
    // UTF-8-min gram among argmax ties in one O(len·n) pass inside the
    // row — scan → project, no exchange before the report sort. Grams
    // compare as TRUE strings (the old path grouped on xxhash64
    // fingerprints and recovered strings afterwards; the oracle always
    // computed on true strings, so values are unchanged).
    planted
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        graft.functions.TextFunctions.gram_loop_stats(col("toks"), n)
          .as("s"))
      .select(col("doc_id"), col("s.n_positions").as("n_positions"),
        col("s.max_rep").as("max_rep"),
        col("s.loop_gram").as("loop_gram"))
      .select(col("doc_id"), col("n_positions"), col("max_rep"),
        col("loop_gram"),
        round(col("max_rep").cast("double")
          / col("n_positions").cast("double"), 4).as("loop_frac"),
        when(col("max_rep") >= flagRep, 1L).otherwise(0L)
          .as("loop_flag"))
      .orderBy("doc_id")
  }

  /** q206 — sequence→document PROVENANCE: the inverse packing lookup
    * every loss-spike forensics session runs ("training step k read
    * sequences [a, b) — which documents were in them, at which
    * offsets?"). For a deterministic probe set of sequence ids
    * (seq_id % probeMod == 0, so the oracle reproduces it), emit one
    * row per (sequence, contributing document): the token offset of
    * the document's fragment inside the sequence (`seq_off`), the
    * offset of that fragment inside the DOCUMENT (`doc_off` — where
    * to start reading the source text), and the fragment length.
    *
    * Same machinery as [[packComposition]] (the q184/q187 global
    * prefix sum — shared so the three packing gates cannot
    * desynchronize): each doc explodes to its spanned sequences, the
    * probe filter prunes BEFORE the exchange, and every column is
    * exact integer interval arithmetic. At 100 TB the probe set is a
    * handful of sequences: the filter cuts the exploded frame to
    * ~|probe| · (docs per sequence) rows. */
  def seqProvenance(
      documents: DataFrame, seqLen: Long = 512L,
      probeMod: Long = 20L, salt: String = "shard"): DataFrame = {
    require(probeMod > 0, "seqProvenance: probeMod must be positive")
    val spans = sequencePacking(documents, seqLen, salt)
      .withColumn("gstart",
        col("start_seq") * seqLen + col("seq_offset"))
      .withColumn("gend", col("gstart") + col("n_tokens"))
      .withColumn("seq_id",
        explode(sequence(col("start_seq"), col("end_seq"))))
      .filter(pmod(col("seq_id"), lit(probeMod)) === 0)
    spans.select(col("seq_id"), col("doc_id"),
        (greatest(col("gstart"), col("seq_id") * seqLen)
          - col("seq_id") * seqLen).as("seq_off"),
        (greatest(col("gstart"), col("seq_id") * seqLen)
          - col("gstart")).as("doc_off"),
        (least(col("gend"), (col("seq_id") + 1L) * seqLen)
          - greatest(col("gstart"), col("seq_id") * seqLen)).as("n_tok"))
      .orderBy("seq_id", "doc_id")
  }

  /** q191 — the corpus DATASHEET: the per-(lang, source) summary table
    * every dataset card / "Datasheets for Datasets" release publishes,
    * computed in one pass over the corpus — doc and exact-duplicate
    * counts (md5(text) groups within the stratum), token/char volume,
    * short-doc count (the q177 gate's < 40-token class), distinct
    * vocabulary size, and the derived chars-per-token and type-token
    * ratios. Two hash aggregates — one doc-keyed, one on the exploded
    * (stratum, token) frame reduced to distinct before counting — and
    * a broadcast join of the |strata|-row results; nothing is
    * windowed, nothing driver-side, every column is an exact integer
    * or a rounded ratio of exact integers (full hash oracle). At
    * 100 TB this is the cheap always-on companion to the monitor
    * suite: token-keyed shuffles, ~|vocab| + |strata| state. */
  def corpusDatasheet(documents: DataFrame): DataFrame = {
    val base = documents.select(col("lang"), col("source"),
      col("doc_id"), col("n_chars").cast("long").as("n_chars"),
      split(col("text"), " ").as("toks"), md5(col("text")).as("tkey"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val docAgg = base.groupBy("lang", "source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("tkey")).as("n_distinct_texts"),
      sum("n_tokens").as("total_tokens"),
      sum("n_chars").as("total_chars"),
      sum(when(col("n_tokens") < 40, 1L).otherwise(0L)).as("n_short"))
    val vocabAgg = base
      .select(col("lang"), col("source"), explode(col("toks")).as("tok"))
      .distinct()
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("distinct_tokens"))
    docAgg.join(broadcast(vocabAgg), Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"),
        (col("n_docs") - col("n_distinct_texts")).as("n_dup_docs"),
        col("total_tokens"), col("total_chars"), col("n_short"),
        col("distinct_tokens"),
        round(col("total_chars").cast("double") / col("total_tokens"), 4)
          .as("chars_per_token"),
        round(col("distinct_tokens").cast("double") / col("total_tokens"),
          6).as("type_token_ratio"))
      .orderBy("lang", "source")
  }

  /** q195 — unigram Jensen–Shannon divergence matrix: for every
    * unordered source pair, the JS divergence (log2 — bounded [0,1])
    * between the two sources' unigram token distributions. The
    * DISTRIBUTIONAL complement to q192's verbatim containment: two
    * crawls can share no 3-gram (containment 0) yet speak the same
    * unigram mix (JSD ≈ 0), and the mixing decision (q106/q127)
    * needs both views.
    *
    * Shape that avoids the full-outer union-of-vocab join: with
    * p = P_a(t), q = P_b(t), every token OUTSIDE the intersection
    * contributes exactly 0.5·p (or 0.5·q) because log2(2p/(p+0)) = 1,
    * so JSD = Σ_common [0.5·p·log2(2p/(p+q)) + 0.5·q·log2(2q/(p+q))]
    * + 0.5·(1 − Σ_common p) + 0.5·(1 − Σ_common q) — ONE inner
    * self-join on the token key plus per-pair mass totals. Disjoint
    * pairs (nothing in common) are completed against the broadcast
    * |sources|² cross with JSD = 1. Token-keyed and linear in the
    * (source, token) vocabulary frame; the join output is bounded by
    * Σ_t pairs(t) ≤ |sources|²·|vocab| with the |sources| side
    * dimension-bounded — never doc×doc. Per-row probability math is
    * IEEE-deterministic; only the per-pair sums are order-sensitive,
    * so the statistic rounds 4 dp (q71 convention) with the +0.0
    * negative-zero fold (Σp can exceed 1 by one ulp). */
  def unigramJsDivergence(documents: DataFrame): DataFrame = {
    val counts = documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("source").agg(sum(col("c")).as("tot"))
    val prob = counts.join(broadcast(totals), "source")
      .select(col("source"), col("tok"),
        (col("c").cast("double") / col("tot").cast("double")).as("p"))
    val joint = prob.as("a")
      .join(prob.as("b"), col("a.tok") === col("b.tok")
        && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"),
        col("b.source").as("source_b"),
        col("a.p").as("p"), col("b.p").as("q"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_common"),
        sum(col("p")).as("sp"), sum(col("q")).as("sq"),
        sum(lit(0.5) * col("p")
            * log2(lit(2) * col("p") / (col("p") + col("q")))
          + lit(0.5) * col("q")
            * log2(lit(2) * col("q") / (col("p") + col("q"))))
          .as("core"))
    val dims = totals.select(col("source").as("source_a"))
      .join(broadcast(totals.select(col("source").as("source_b"))),
        col("source_a") < col("source_b"))
    dims.join(joint, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (round(coalesce(col("core"), lit(0.0))
          + lit(0.5) * (lit(1.0) - coalesce(col("sp"), lit(0.0)))
          + lit(0.5) * (lit(1.0) - coalesce(col("sq"), lit(0.0))), 4)
          + lit(0.0)).as("jsd"))
      .orderBy("source_a", "source_b")
  }

  /** q197 — bucketed-histogram source drift: each source's token
    * distribution compared against the corpus-wide distribution as a
    * Jensen–Shannon divergence over a FIXED-SIZE hashed histogram —
    * every token maps to one of `buckets` cells via the portable
    * 32-bit md5 key (q64's mapping) mod `buckets`, so the statistic's
    * state is `buckets` longs per source REGARDLESS of vocabulary
    * size. This is the scale twin of [[unigramJsDivergence]]: exact
    * unigram JSD carries |vocab| state (fine for a bounded source
    * pair audit, unbounded for always-on monitoring at 100 TB), while
    * the bucketed form is the statistic a monitoring loop can commit
    * per increment forever — [[graft.sources.CorpusIncrement]] emits
    * exactly this construction as `jsd_tokens` from committed
    * histogram state.
    *
    * By the data-processing inequality the bucketed JSD NEVER exceeds
    * the exact JSD (hashing can only merge mass), so it is a
    * conservative drift detector: what it flags is real; hash-merged
    * fine structure it cannot see (spec-pinned on the fixture).
    * Bucket counts are exact integers (hash-agg, map-side combine);
    * the only floats are the final per-source sums over ≤ `buckets`
    * terms, rounded 4 dp. Reference distribution = the corpus
    * INCLUDING the source (the PSI convention, q144). */
  /** The portable md5 token→bucket mapping shared by [[tokenHistDrift]]
    * and [[graft.sources.CorpusIncrement]]'s monitor histogram — ONE
    * def, so the declared query's statistic and the monitor's
    * jsd_tokens cannot desynchronize (the shardCtes/quotaCtesOver
    * discipline, applied to the engine side). */
  def tokenBucket(tok: Column, buckets: Int): Column =
    pmod(conv(substring(md5(tok), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  def tokenHistDrift(
      documents: DataFrame, buckets: Int = 4096): DataFrame = {
    val b = tokenBucket(col("tok"), buckets)
    val perSrc = documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("bucket", b)
      .groupBy("source", "bucket").agg(count(lit(1)).as("c"))
    val srcTot = perSrc.groupBy("source").agg(sum("c").as("tot"))
    val corpus = perSrc.groupBy("bucket").agg(sum("c").as("cc"))
    val corpusTot = corpus.agg(sum("cc").as("ctot"))
    val joined = perSrc
      .join(broadcast(srcTot), "source")
      .join(corpus, "bucket")
      .crossJoin(broadcast(corpusTot))
      .select(col("source"),
        (col("c").cast("double") / col("tot").cast("double")).as("p"),
        (col("cc").cast("double") / col("ctot").cast("double")).as("q"))
    // tail mass: buckets where the SOURCE has no tokens contribute
    // 0.5*q*log2(2q/q)=0.5*q only if p=0 there — handled closed-form
    // via the per-source Σq over the source's OWN buckets (q192/q195
    // completion discipline); the corpus side always covers the
    // source's buckets, so p's tail is empty by construction
    joined.groupBy("source")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("q")).as("sq"),
        sum(lit(0.5) * col("p")
            * log2(lit(2) * col("p") / (col("p") + col("q")))
          + lit(0.5) * col("q")
            * log2(lit(2) * col("q") / (col("p") + col("q"))))
          .as("core"))
      .join(broadcast(srcTot), "source")
      .select(col("source"), col("tot").as("n_tokens"),
        col("n_buckets"),
        (round(col("core")
          + lit(0.5) * (lit(1.0) - col("sq")), 4) + lit(0.0))
          .as("jsd_vs_corpus"))
      .orderBy("source")
  }

  /** q201 — token frequency-of-frequencies spectrum: per source, how
    * many token TYPES occur exactly k times (k = 1..maxK, pooled
    * maxK+1 = "more"), with type/token shares — the Good–Turing
    * frequency profile behind smoothing estimates, vocabulary sizing,
    * and the hapax rate (k = 1 share) that flags OCR noise and
    * boilerplate extremes in dataset datasheets. Two token-keyed hash
    * aggregates: (source, token) counts, then (source, k) rollup
    * joined to the broadcast |sources|-row totals. Counts exact
    * integers; shares single divisions rounded 6 dp. */
  def frequencySpectrum(
      documents: DataFrame, maxK: Int = 10): DataFrame = {
    val counts = documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val spectrum = counts
      .withColumn("k", least(col("c"), lit(maxK.toLong + 1L)))
      .groupBy("source", "k")
      .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"))
    val totals = counts.groupBy("source")
      .agg(count(lit(1)).as("tot_types"), sum("c").as("tot_tokens"))
    spectrum.join(broadcast(totals), "source")
      .select(col("source"), col("k"), col("n_types"), col("n_tokens"),
        round(col("n_types").cast("double")
          / col("tot_types").cast("double"), 6).as("type_share"),
        round(col("n_tokens").cast("double")
          / col("tot_tokens").cast("double"), 6).as("token_share"))
      .orderBy("source", "k")
  }

  /** q202 — duplication profile: the exact-copy cluster-size
    * distribution (how many md5(text) groups have exactly d members,
    * d = 1..maxD, pooled maxD+1 = "more") with the doc and token mass
    * locked in duplicates — the corpus-level summary of what q17's
    * dedup would remove (dup_token_share is the fraction of all
    * tokens sitting on NON-KEEPER copies), reported in every dataset
    * datasheet next to q191's per-stratum counts. One hash-group on
    * the 128-bit text hash (the q17 shuffle posture — text itself
    * never shuffles), one d-keyed rollup, one broadcast 1-row totals
    * join. All counts exact; shares rounded 6 dp. */
  def duplicationProfile(
      documents: DataFrame, maxD: Int = 5): DataFrame = {
    val groups = documents
      .select(md5(col("text")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("h")
      .agg(count(lit(1)).as("d"), sum("n_tokens").as("g_tokens"),
        max("n_tokens").as("keeper_tokens"))
    val prof = groups
      .withColumn("db", least(col("d"), lit(maxD.toLong + 1L)))
      .groupBy("db")
      .agg(count(lit(1)).as("n_groups"), sum("d").as("n_docs"),
        sum(col("d") - lit(1L)).as("n_dup_docs"),
        sum("g_tokens").as("n_tokens"),
        sum(col("g_tokens") - col("keeper_tokens")).as("dup_tokens"))
    val totals = prof.agg(
      sum("n_docs").as("tot_docs"), sum("n_tokens").as("tot_tokens"))
    prof.crossJoin(broadcast(totals))
      .select(col("db"), col("n_groups"), col("n_docs"),
        col("n_dup_docs"), col("n_tokens"), col("dup_tokens"),
        round(col("n_docs").cast("double")
          / col("tot_docs").cast("double"), 6).as("doc_share"),
        round(col("dup_tokens").cast("double")
          / col("tot_tokens").cast("double"), 6).as("dup_token_share"))
      .orderBy("db")
  }

  /** q203 — compression-ratio quality filter (the Gopher/RedPajama
    * repetitiveness signal): per document, UTF-8 bytes, raw-DEFLATE
    * compressed bytes via the native codegen'd
    * [[graft.functions.DeflateLen]] expression, their ratio, and the
    * repetitive flag (ratio above `maxRatio` — templated/repeated
    * text compresses far better than natural prose). Catches
    * character-level and structural repetition that token-level
    * heuristics (q94) miss; the two signals are complementary gates
    * in production filters. One codegen'd projection riding the scan
    * + a flag — no shuffle at all except the output ordering. The
    * flag compares against an exact integer cross-multiplication
    * (bytes > maxRatioNum·deflate/maxRatioDen would be float; instead
    * bytes·den > num·deflate — no float in the gate). Rows-only by
    * convention (no DuckDB deflate scalar); TextSpec pins exact
    * equality vs a driver-side java.util.zip reference. */
  def compressionRatio(
      documents: DataFrame, maxRatioNum: Int = 4,
      maxRatioDen: Int = 1): DataFrame =
    documents
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.CompressionFunctions
          .deflate_len(col("text")).cast("long").as("deflate_bytes"))
      .select(col("doc_id"), col("n_bytes"), col("deflate_bytes"),
        round(col("n_bytes").cast("double")
          / col("deflate_bytes").cast("double"), 4)
          .as("compression_ratio"),
        when(col("n_bytes") * maxRatioDen
          > col("deflate_bytes") * maxRatioNum, 1)
          .otherwise(0).as("repetitive_flag"))
      .orderBy("doc_id")

  /** q196 — stride-scheduled curriculum interleave: a deterministic
    * GLOBAL training order in which every source is spread evenly
    * through the epoch (doc j of a source with n docs sits at stride
    * position (2j−1)/(2n) ∈ (0,1)) — the classic stride-scheduling
    * guarantee that after any prefix of the order, each source has
    * contributed its proportional share ±1. This is the "data
    * ordering" step between mixture (q106/q127/q185) and sharding
    * (q156/q183): trainers that stream shards sequentially need
    * sources interleaved, not concatenated, or early steps see one
    * distribution and late steps another.
    *
    * Everything is integer-exact and engine-portable: within-source
    * order is the 32-bit md5 shuffle key (q64's portable mapping,
    * doc_id tiebreak); the stride position is SCALED to the exact
    * long ⌊(2j−1)·2³² / (2n)⌋ < 2³² (no float division anywhere —
    * exact while (2j−1)·2³² < 2⁶³, i.e. n per source < 2³⁰); the
    * global position over (stride_key, h, doc_id) rides
    * [[GlobalRank.cumSum]] — and the per-source rank rides
    * [[GlobalRank.cumSumBy]], because `source` is exactly the
    * low-cardinality partition key the round-10 PlanAudit window
    * hazard class exists for. No unpartitioned window, no driver
    * loop; both rank passes are 256-way bucketed. */
  def curriculumInterleave(documents: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long")
    val base = documents.select(col("doc_id"), col("source"))
      .withColumn("h", h)
    val ranked = GlobalRank.cumSumBy(base, Seq("source"), col("h"),
      col("doc_id"), Seq((lit(1L), "rank_in_source")))
    val sizes = ranked.groupBy("source").agg(count(lit(1)).as("n_src"))
    val keyed = ranked.join(broadcast(sizes), "source")
      .withColumn("stride_key", expr(
        "(2 * rank_in_source - 1) * 4294967296 div (2 * n_src)"))
    GlobalRank.cumSum(keyed, col("stride_key"),
      struct(col("h"), col("doc_id")), lit(1L), "global_pos")
      .select(col("doc_id"), col("source"), col("rank_in_source"),
        col("n_src"), col("stride_key"), col("global_pos"))
      .orderBy("doc_id")
  }

  /** q212 — CHARACTER-entropy quality signal: per document, the
    * Shannon entropy (base 2) of the non-space character distribution
    * plus the dominant-character repeat count — the classic low-cost
    * repetitiveness filter (CCNet/Gopher lineage) that catches
    * character-level degeneration (`aaaa…`, ASCII-art, base64 walls)
    * which token-level heuristics (q94) and even 4-gram loops (q211)
    * cannot see, and the EXACT-arithmetic twin of q203's
    * compression-ratio signal (deflate is JVM-zlib-specific →
    * rows-only; this gate is engine-portable integers + one rounded
    * log-sum → FULL hash oracle). The repetitive flag is an exact
    * integer cross-multiplication (dominant char ≥ 1/4 of non-space
    * chars), never a float compare. Because the synthetic prose is
    * character-diverse at every sf, flagged docs are PLANTED
    * (doc_id % plantMod gets its own first character repeated
    * length(text) times appended — the q202 scale-covariant
    * convention), so the flag class is non-vacuous and the oracle
    * reproduces the planting.
    *
    * Scale: one doc-keyed hash-agg over (doc_id, char) — partial
    * aggregation collapses each partition's contribution to ≤
    * |alphabet| rows per doc before the exchange, so the shuffle
    * carries the per-doc character HISTOGRAM, never the text; the
    * entropy fold is a second ≤|alphabet|-wide agg. Linear in corpus
    * bytes, the same class as the shingle family. */
  def charEntropy(
      documents: DataFrame, plantMod: Int = 29): DataFrame = {
    val planted = documents.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(plantMod)) === 0,
        concat(col("text"), lit(" "),
          expr("repeat(substr(text, 1, 1), length(text))")))
        .otherwise(col("text")).as("text"))
    val counts = planted
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "" && col("ch") =!= " ")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val tot = counts.groupBy("doc_id").agg(
      sum("c").as("n_chars_x"), count(lit(1)).as("n_distinct"),
      max("c").as("max_rep"))
    counts.join(tot, "doc_id")
      .groupBy("doc_id", "n_chars_x", "n_distinct", "max_rep")
      .agg((round(-sum((col("c") / col("n_chars_x"))
          * log2(col("c") / col("n_chars_x"))), 4) + 0.0)
        .as("char_entropy"))
      .select(col("doc_id"), col("n_chars_x"), col("n_distinct"),
        col("max_rep"), col("char_entropy"),
        when(col("max_rep") * 4 >= col("n_chars_x"), 1L).otherwise(0L)
          .as("repetitive_flag"))
      .orderBy("doc_id")
  }

  /** q216 — ENCODING-artifact (mojibake) audit: per document, exact
    * counts of the three artifact classes every web-crawl cleaning
    * pass screens for — U+FFFD replacement characters (decoder
    * failures), the `Ã` lead byte of UTF-8-read-as-Latin-1 mojibake,
    * and C0 control characters (here BEL) — plus the clean-character
    * ratio and an exact integer artifact flag. The stock fixture is
    * pure ASCII prose (artifact-free by construction), so each class
    * is PLANTED on its own modular key (q202 convention: %37 → five
    * replacement chars, %41 → a mojibake `Ã©Ã¨` run, %43 → three BEL
    * controls; keys coprime, so docs can carry multiple classes and
    * the planting is scale-covariant). Counts are computed by the
    * length-difference idiom (`length(text) − length(replace(text,
    * marker, ''))`) — pure codegen'd string functions, identical
    * semantics in DuckDB, no regex engine portability hazard.
    *
    * Scale: a single map-side projection riding the scan — no
    * shuffle, no explode; the cheapest quality-filter class there is
    * (the reason production pipelines run encoding screens FIRST,
    * before any tokenization). */
  def mojibakeAudit(documents: DataFrame): DataFrame = {
    val repl = "\ufffd" // replacement character U+FFFD
    val moji = "\u00c3" // the Latin-1 mojibake lead byte
    val ctrl = "\u0007" // BEL, the C0 control class
    val planted = documents.select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(37)) === 0,
          lit(" " + repl * 5)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(41)) === 0,
          lit(" " + moji + "\u00a9" + moji + "\u00a8")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(43)) === 0,
          lit(" " + ctrl * 3)).otherwise(lit(""))).as("text"))
    def occurrences(marker: String): Column =
      (length(col("text"))
        - length(regexp_replace(col("text"), lit(java.util.regex.Pattern
            .quote(marker)), lit("")))).cast("long")
    planted.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_p"),
        occurrences(repl).as("n_replacement"),
        occurrences(moji).as("n_mojibake"),
        occurrences(ctrl).as("n_control"))
      .select(col("doc_id"), col("n_chars_p"), col("n_replacement"),
        col("n_mojibake"), col("n_control"),
        when(col("n_replacement") + col("n_mojibake")
          + col("n_control") > 0, 1L).otherwise(0L).as("artifact_flag"),
        round((col("n_chars_p") - col("n_replacement")
            - col("n_mojibake") - col("n_control")).cast("double")
          / col("n_chars_p").cast("double"), 4).as("clean_ratio"))
      .orderBy("doc_id")
  }

  /** q215 — per-LANGUAGE quality-threshold calibration: rank every
    * document WITHIN its language by an exact integer quality proxy
    * (chars-per-token × 1000, the fertility-style score whose extremes
    * flag token-soup and run-on garbage) and flag the bottom decile of
    * each language. A single global threshold miscalibrates across
    * languages (German's long compounds score high, Chinese
    * transliteration low) — per-language quantile gating is how
    * production filters (CCNet's per-language LM buckets) actually
    * ship. Everything is integer-exact: the proxy is an integer
    * division, the within-language rank and the decile cut
    * `rank ≤ ⌈n_lang/10⌉` are integer arithmetic.
    *
    * Scale: `lang` is exactly the low-cardinality partition key the
    * PlanAudit window-hazard class exists for — the rank rides
    * [[GlobalRank.cumSumBy]] (256-way bucketed, no
    * `Window.partitionBy(lang)` sorting n/|langs| rows in one task);
    * per-language sizes join back as a |langs|-row broadcast. */
  def langQualityCalibration(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("lang"),
      (col("n_chars") * 1000L).cast("long").as("__num"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("iscore", expr("__num div n_tokens"))
      .drop("__num")
    val ranked = GlobalRank.cumSumBy(base, Seq("lang"), col("iscore"),
      col("doc_id"), Seq((lit(1L), "lang_rank")))
    val sizes = ranked.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    ranked.join(broadcast(sizes), "lang")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("iscore"), col("lang_rank"), col("n_lang"),
        when(col("lang_rank") * 10L <= col("n_lang") + 9L, 1L)
          .otherwise(0L).as("low_decile"))
      .orderBy("doc_id")
  }

  /** q225 — TF-IDF keyword extraction, exact-ranking form: the
    * top-`k` tokens of every document under SMOOTHED TF-IDF
    * (`tf · (ln((N+1)/(df+1)) + 1)`, the sklearn formulation — never
    * zero, defined even for df = N) — the hardened sibling of
    * [[tfidfTopTerms]] (q53, classic `tf·ln(N/df)`): q53 ranks on the
    * 4 dp-ROUNDED float weight, which is reproducible only while no
    * two distinct weights straddle a rounding boundary — a collision
    * class that GROWS with corpus size. Here the GATE is all-integer:
    * the per-df idf is scaled once to a BIGINT (`idf6 =
    * round(idf·10⁶)`, one ln per DISTINCT df value — the q59 float
    * class at its smallest possible surface) and ranking compares the
    * exact integer product `tf·idf6` with a token-string tie-break,
    * so rank order can never be flipped by a last-ulp logarithm at
    * ANY corpus size.
    *
    * Scale: one (doc, token) hash-agg (tf), one token hash-agg (df),
    * a token-keyed join back (corpus-derived df side — no broadcast
    * hint, AQE decides), and a doc_id-partitioned top-k window
    * (doc_id is the HIGH-cardinality key, the window class that
    * partitions with the corpus; per-doc groups are bounded by the
    * doc's distinct-token count). */
  def tfidfKeywords(documents: DataFrame, k: Int = 3): DataFrame = {
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("token"), col("df"),
        round((log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0)
          * 1000000.0).cast("long").as("idf6"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_scaled").desc, col("token"))
    tf.join(df, "token")
      .withColumn("score_scaled", col("tf") * col("idf6"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"),
        col("df"), col("score_scaled"))
      .orderBy("doc_id", "rk")
  }

  /** q226 — Zipf-law fit PER SOURCE: rank each source's tokens by
    * frequency (count desc, token tie-break) and fit
    * `ln(freq) = slope·ln(rank) + intercept` by ordinary least squares
    * over the top-`topN` ranks, reporting slope/intercept/r² — the
    * per-source datasheet twin of [[zipfFit]] (q87's single corpus
    * row): the row that flags WHICH source is template-heavy or
    * synthetic (natural text sits near slope ≈ −1; machine-generated
    * or boilerplate-dominated sources flatten or cliff). The ranking
    * key is exact-integer (count, token) so the regression's INPUT
    * set is deterministic; only the six OLS sums are float, each over
    * ≤ topN values, rounded at 6 dp (the q59/q220 corr class) — and
    * unlike q87 the closed-form sums avoid `regr_*` aggregate
    * implementation differences entirely.
    *
    * Scale: one (source, token) hash-agg; the within-source rank
    * rides [[GlobalRank.cumSumBy]] (`source` is the LOW-cardinality
    * hazard key — never `Window.partitionBy(source)` over a
    * corpus-growing token frame, where q87's global `limit(k)` trick
    * has no per-group equivalent); the fold is ≤ topN·|sources| rows. */
  def zipfFitBySource(documents: DataFrame, topN: Int = 100): DataFrame = {
    val counts = documents
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("source").agg(
      count(lit(1)).as("n_types"), sum("n").as("n_tokens"))
    val ranked = GlobalRank.cumSumBy(counts, Seq("source"),
      -col("n"), col("token"), Seq((lit(1L), "rk")))
      .filter(col("rk") <= topN)
    val x = log(col("rk").cast("double"))
    val y = log(col("n").cast("double"))
    val sums = ranked.groupBy("source").agg(
      count(lit(1)).cast("double").as("m"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(x * y).as("sxy"), sum(y * y).as("syy"))
    val dx = col("m") * col("sxx") - col("sx") * col("sx")
    val dy = col("m") * col("syy") - col("sy") * col("sy")
    val cv = col("m") * col("sxy") - col("sx") * col("sy")
    sums.join(broadcast(totals), "source")
      .select(col("source"), col("n_types"), col("n_tokens"),
        col("m").cast("long").as("m_points"),
        when(dx > 0, round(cv / dx, 6)).as("zipf_slope"),
        when(dx > 0, round((col("sy") - cv / dx * col("sx")) / col("m"), 6))
          .as("intercept"),
        when(dx > 0 && dy > 0, round(cv * cv / (dx * dy), 6)).as("r2"))
      .orderBy("source")
  }

  /** q227 — interpolated Kneser–Ney held-out LM score: the smoothing
    * companion of q68 (whose MLE model assigns probability ZERO to
    * any bigram it never saw — q68 only stays finite because it
    * scores the corpus under itself). Here the model trains on
    * `doc_id % holdMod != 0` and scores the HELD-OUT docs, so unseen
    * contexts and unseen bigrams actually occur and the smoothing is
    * load-bearing:
    *
    *   P(y|x) = (c(xy) − D)/c(x·) + D·N1+(x·)/c(x·) · Pcont(y)
    *   Pcont(y) = N1+(·y)/N1+(··),  unseen y → 1/(N1+(··)+1)
    *   unseen context x → P(y|x) = Pcont(y)
    *
    * with D = 0.75 (c(xy) ≥ 1 > D keeps the main term nonnegative
    * without a clamp). Emits per held-out doc: bigram count, unseen-
    * context and unseen-bigram counts (exact integers — the bulk of
    * the gate) and the mean ln P (4 dp, the q68 float class).
    *
    * Scale: the model is two token-keyed hash-aggs over the train
    * split; scoring joins the held-out bigram stream to the three
    * count tables on token keys (never a pair blowup) plus one 1-row
    * broadcast for N1+(··). */
  def knScore(
      documents: DataFrame,
      holdMod: Int = 7,
      discount: Double = 0.75): DataFrame = {
    val toksDf = Spread(documents)
      .select(col("doc_id"), tokens(col("text")).as("t"))
    // codegen window stream (explode positions, element_at pair —
    // no interpreted transform lambda, Dedup.windowFingerprints
    // rationale)
    def bigrams(df: DataFrame): DataFrame = df
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("t"), col("i")).as("x"),
        element_at(col("t"), col("i") + 1).as("y"))
    val cxy = bigrams(toksDf.filter(pmod(col("doc_id"), lit(holdMod)) =!= 0))
      .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
    val ctx = cxy.groupBy("x")
      .agg(sum("cxy").as("cx"), count(lit(1)).as("n1f"))
    val cont = cxy.groupBy("y").agg(count(lit(1)).as("n1r"))
    val n1all = cxy.agg(count(lit(1)).as("n1all"))
    val pcont = coalesce(
      col("n1r").cast("double") / col("n1all"),
      lit(1.0) / (col("n1all") + 1))
    val p = when(col("cx").isNotNull,
      when(col("cxy").isNotNull,
        (col("cxy") - lit(discount)) / col("cx")).otherwise(lit(0.0))
        + lit(discount) * col("n1f") / col("cx") * pcont)
      .otherwise(pcont)
    bigrams(toksDf.filter(pmod(col("doc_id"), lit(holdMod)) === 0))
      .join(cxy, Seq("x", "y"), "left")
      .join(ctx, Seq("x"), "left")
      .join(cont, Seq("y"), "left")
      .crossJoin(broadcast(n1all))
      .withColumn("p", p)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cx").isNull, 1L).otherwise(0L)).as("n_unseen_ctx"),
        sum(when(col("cxy").isNull, 1L).otherwise(0L)).as("n_unseen_bigram"),
        round(avg(log(col("p"))), 4).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** q229 — SFT pair construction with loss-mask accounting: the
    * fine-tuning last mile the pretraining packers (q184/q187) don't
    * cover. Each document becomes one (instruction, response) example
    * under a deterministic split (prompt = first `min(maxPrompt,
    * n div 2)` tokens, response = the rest; docs under 2 tokens
    * can't split and are dropped), rendered through a fixed chat
    * template (`INST: <prompt> RESP: <response>` — one marker token
    * each side), with the numbers a trainer's data loader needs per
    * example: total template tokens, masked-token count (everything
    * through the RESP: marker — instruction tokens never receive
    * loss), trained-token count, and the loss fraction. The rendered
    * example is md5-gated, so template fidelity (spacing, marker
    * placement) is in the hash, not just the counts.
    *
    * Scale: one map-side projection (split/slice/concat on the token
    * array, no explode, no shuffle) — the cheapest possible shape;
    * downstream packing of the rendered examples rides the existing
    * q184 machinery unchanged. */
  def sftPairs(documents: DataFrame, maxPrompt: Int = 8): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t).cast("long")
    val pl = least(lit(maxPrompt.toLong), expr(
      s"size(split(text, ' ')) div 2").cast("long"))
    documents
      .filter(n >= 2)
      .select(col("doc_id"), n.as("n_tokens"), pl.as("n_prompt"),
        concat_ws(" ", slice(t, lit(1), pl.cast("int"))).as("prompt"),
        concat_ws(" ",
          slice(t, (pl + 1).cast("int"), (n - pl).cast("int")))
          .as("response"))
      .select(col("doc_id"), col("n_tokens"), col("n_prompt"),
        (col("n_tokens") - col("n_prompt")).as("n_response"),
        (col("n_tokens") + 2L).as("total_tokens"),
        (col("n_prompt") + 2L).as("n_masked"),
        (col("n_tokens") - col("n_prompt")).as("n_trained"),
        round((col("n_tokens") - col("n_prompt")).cast("double")
          / (col("n_tokens") + 2L).cast("double"), 4).as("loss_frac"),
        md5(concat(lit("INST: "), col("prompt"), lit(" RESP: "),
          col("response"))).as("example_md5"))
      .orderBy("doc_id")
  }
}
